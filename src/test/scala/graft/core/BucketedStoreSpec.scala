package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  test("file-level merge rewrites only touched buckets; untouched files are shared across versions") {
    val store = new BucketedStore(tmpDir("bstore"), numBuckets = 16)
    val base = (1L to 1000L).map(i => (i, s"name$i", i * 1.0)).toDF("id", "name", "score")
    store.write(base, "f", Seq("id"))

    // update 3 entities → at most 3 of 16 buckets rewritten
    val updates = Seq((5L, "FIVE", 5.5), (6L, "SIX", 6.6), (700L, "SEVEN", 7.7))
      .toDF("id", "name", "score")
    assert(store.rewriteFraction("f", updates, Seq("id")) <= 3.0 / 16)
    store.merge("f", updates, Seq("id"))

    // correctness: upserted rows replaced, everything else intact
    val cur = store.read("f", Seq("id"))
    assert(cur.count() == 1000)
    assert(cur.filter($"id" === 5L).select("name").as[String].head() == "FIVE")
    assert(cur.filter($"id" === 10L).select("name").as[String].head() == "name10")

    // time travel: version 0 still has the original rows
    val v0 = store.read("f", Seq("id"), asOfVersion = Some(0))
    assert(v0.filter($"id" === 5L).select("name").as[String].head() == "name5")

    // file sharing: the two manifests agree on every untouched bucket path
    val m0 = scala.io.Source.fromFile(s"${store.root}/f/_graft_log/0.json").mkString
    val m1 = scala.io.Source.fromFile(s"${store.root}/f/_graft_log/1.json").mkString
    def paths(s: String) = "\"([0-9]+)\": \"([^\"]+)\"".r.findAllMatchIn(s)
      .map(m => m.group(1).toInt -> m.group(2)).toMap
    val (p0, p1) = (paths(m0), paths(m1))
    val shared = p1.filter { case (b, p) => p0.get(b).contains(p) }
    assert(shared.size >= 13, s"expected >=13 of 16 buckets shared, got ${shared.size}")
    assert(shared.values.forall(_.startsWith("files_v0/")), "shared buckets must reference v0 files")
  }

  test("point lookup reads a single bucket and returns the row") {
    val store = new BucketedStore(tmpDir("bstore"), numBuckets = 16)
    val base = (1L to 500L).map(i => (i, s"name$i")).toDF("id", "name")
    store.write(base, "f", Seq("id"))
    val hit = store.lookup("f", Seq("id"), Seq(42L))
    assert(hit.select("name").as[String].collect().toSeq == Seq("name42"))
    // lookup after merge sees the update
    store.merge("f", Seq((42L, "FORTY-TWO")).toDF("id", "name"), Seq("id"))
    assert(store.lookup("f", Seq("id"), Seq(42L)).select("name").as[String].head() == "FORTY-TWO")
    // reads one bucket: with every other bucket's data dir gone, the lookup
    // still answers — touching any of them would fail, since a missing
    // bucket dir fails loudly (the last assertion)
    val keyDirs = manifestOf(store, "f", 1L)(
      store.bucketOf(Seq(42L), Seq(org.apache.spark.sql.types.LongType))).toSet
    val others = new java.io.File(store.root, "f").listFiles().toSeq
      .filter(_.getName.startsWith("files_v"))
      .flatMap(v => v.listFiles().toSeq.filter(_.isDirectory).map(b => s"${v.getName}/${b.getName}"))
      .filterNot(keyDirs)
    assert(others.size >= 15, others)
    def drop(rel: String) = org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"${store.root}/f/$rel"))
    others.foreach(drop)
    assert(store.lookup("f", Seq("id"), Seq(42L)).select("name").as[String].collect().toSeq == Seq("FORTY-TWO"))
    keyDirs.foreach(drop)
    val e = intercept[IllegalStateException](store.lookup("f", Seq("id"), Seq(42L)))
    assert(keyDirs.exists(e.getMessage.contains), e.getMessage)
  }

  test("new entities land in their buckets; merge into missing feature fails loudly") {
    val store = new BucketedStore(tmpDir("bstore"), numBuckets = 4)
    store.write(Seq((1L, "a")).toDF("id", "x"), "g", Seq("id"))
    store.merge("g", Seq((2L, "b"), (3L, "c")).toDF("id", "x"), Seq("id"))
    assert(store.read("g", Seq("id")).count() == 3)
    intercept[IllegalArgumentException](
      store.merge("nope", Seq((1L, "a")).toDF("id", "x"), Seq("id")))
  }

  test("scanPruned reads only the bucket files whose min/max intersects the range") {
    val store = new BucketedStore(tmpDir("bstats"), numBuckets = 4)
    // craft values DISJOINT per bucket: v = bucket(id)*1000 + id, computing
    // the bucket with the same hash the store uses, so each file's [min,max]
    // is a distinct thousand-band and pruning is observable
    val df = spark.range(100).select(col("id"))
      .withColumn("b", pmod(xxhash64(col("id")), lit(4)).cast("int"))
      .select(col("id"), (col("b") * 1000 + col("id")).cast("double").as("v"))
    store.write(df, "s", Seq("id"), statsCols = Seq("v"))

    val banded = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expect = banded.filter { case (_, v) => v >= 2000 && v <= 2999 }.toSet
    val pruned = store.scanPruned("s", Seq("id"), "v", 2000, 2999)
    assert(pruned.select("id", "v").as[(Long, Double)].collect().toSet == expect)
    // file skipping happened: every scanned file is the one 2xxx bucket dir
    val dirs = pruned.inputFiles.map(_.split("/__b=")(1).split("/")(0)).distinct
    assert(dirs.length == 1, s"read ${dirs.toSeq}, wanted 1 bucket")

    // empty intersection: zero files, schema intact
    val none = store.scanPruned("s", Seq("id"), "v", 99999, 100000)
    assert(none.count() == 0 && none.columns.contains("v"))
    // untracked column: conservative full read, still correct
    val all = store.scanPruned("s", Seq("id"), "id", 10, 20)
    assert(all.count() == 11)
  }

  test("lookup routing is bit-identical to writer routing for non-Long key types") {
    // INT key column: a caller passing a Scala Int OR a Long must land on the
    // same bucket the writer's xxhash64(IntegerType) routed the row to —
    // xxhash64 hashes by type, so the literal is cast to the STORED type
    val store = new BucketedStore(tmpDir("btypes"), numBuckets = 16)
    val ints = (1 to 500).map(i => (i, s"name$i")).toDF("id", "name")
    store.write(ints, "fi", Seq("id"))
    assert(store.lookup("fi", Seq("id"), Seq(42)).select("name").as[String]
      .collect().toSeq == Seq("name42"), "Int literal for Int column")
    assert(store.lookup("fi", Seq("id"), Seq(42L)).select("name").as[String]
      .collect().toSeq == Seq("name42"), "Long literal for Int column (cast to stored type)")
    // LONG key column, Int literal — the exact silent-miss case from ADVICE
    val longs = (1L to 500L).map(i => (i, s"name$i")).toDF("id", "name")
    store.write(longs, "fl", Seq("id"))
    assert(store.lookup("fl", Seq("id"), Seq(42)).select("name").as[String]
      .collect().toSeq == Seq("name42"), "Int literal for Long column")
    // STRING key column for good measure
    val strs = (1 to 200).map(i => (s"key$i", i)).toDF("id", "n")
    store.write(strs, "fs", Seq("id"))
    assert(store.lookup("fs", Seq("id"), Seq("key42")).select("n").as[Int]
      .collect().toSeq == Seq(42))
    // the same lookups, and a missing key, run no Spark job and equal
    // read().where(key = literal) in rows and schema
    Seq("fi" -> 42, "fi" -> 42L, "fl" -> 42, "fs" -> "key42", "fl" -> 100000L).foreach {
      case (feature, key) => jobFreeLookup(store, feature, Seq("id"), Seq(key))
    }
  }

  test("scanPrunedMulti: conjunctive 2-column predicate reads fewer files than either alone") {
    val store = new BucketedStore(tmpDir("bmulti"), numBuckets = 8)
    // two stats columns with DIFFERENT bucket->band layouts: v bands by
    // bucket, w bands by bucket reversed — a (v, w) conjunction can only be
    // satisfied where both keep-sets intersect
    val df = spark.range(400).select(col("id"))
      .withColumn("b", pmod(xxhash64(col("id")), lit(8)).cast("int"))
      .select(col("id"),
        (col("b") * 1000 + col("id")).cast("double").as("v"),
        ((lit(7) - col("b")) * 1000 + col("id")).cast("double").as("w"))
    store.write(df, "m", Seq("id"), statsCols = Seq("v", "w"))

    def nFiles(d: org.apache.spark.sql.DataFrame) =
      d.inputFiles.map(_.split("/__b=")(1).split("/")(0)).distinct.length
    // v in bucket-3 band AND w in bucket-5 band: disjoint buckets -> 0 rows,
    // and the conjunction proves it from stats alone (no files read)
    val disjoint = store.scanPrunedMulti("m", Seq("id"),
      Seq(("v", 3000.0, 3999.0), ("w", 2000.0, 2999.0)))
    assert(disjoint.count() == 0)
    // v band selects bucket 3; w band for the SAME bucket (w = (7-3)*1000+id)
    // agrees -> exactly that bucket's file, same as single-column pruning
    val oneV = store.scanPruned("m", Seq("id"), "v", 3000.0, 3999.0)
    val both = store.scanPrunedMulti("m", Seq("id"),
      Seq(("v", 3000.0, 3999.0), ("w", 4000.0, 4999.0)))
    assert(nFiles(both) == 1 && nFiles(oneV) == 1)
    assert(both.select("id").as[Long].collect().toSet ==
      oneV.select("id").as[Long].collect().toSet)
    // a WIDE v range (all buckets) + narrow w range: the second column does
    // the pruning — strictly fewer files than the v-only scan
    val wideV = store.scanPruned("m", Seq("id"), "v", 0.0, 8000.0)
    val narrowed = store.scanPrunedMulti("m", Seq("id"),
      Seq(("v", 0.0, 8000.0), ("w", 4000.0, 4999.0)))
    assert(nFiles(narrowed) == 1 && nFiles(wideV) == 8,
      s"conjunction read ${nFiles(narrowed)}, v-only read ${nFiles(wideV)}")
    // correctness: conjunction == full read + both predicates
    val expect = df.where(col("v").between(0.0, 8000.0) && col("w").between(4000.0, 4999.0))
      .select("id").as[Long].collect().toSet
    assert(narrowed.select("id").as[Long].collect().toSet == expect)
  }

  test("writeClustered: Z-order layout prunes multi-column ranges that hash bucketing cannot") {
    // two INDEPENDENT pseudo-uniform columns: under hash bucketing every
    // bucket's [min,max] spans ~the full range of both (nothing prunes);
    // under Z-order clustering a conjunctive box predicate touches only the
    // files whose z-range intersects the box
    val df = spark.range(8000).select(col("id"),
      (col("id") % 100).cast("double").as("v"),
      ((col("id") * 7919) % 100).cast("double").as("w"))
    val ranges = Seq(("v", 0.0, 24.0), ("w", 0.0, 24.0))
    def nFiles(d: org.apache.spark.sql.DataFrame) =
      d.inputFiles.map(_.split("/__b=")(1).split("/")(0)).distinct.length

    val hashStore = new BucketedStore(tmpDir("bzh"), numBuckets = 16)
    hashStore.write(df, "t", Seq("id"), statsCols = Seq("v", "w"))
    val hashScan = hashStore.scanPrunedMulti("t", Seq("id"), ranges)

    val zStore = new BucketedStore(tmpDir("bzz"), numBuckets = 16)
    zStore.writeClustered(df, "t", Seq("id"), clusterCols = Seq("v", "w"))
    assert(zStore.clusteredBy("t", 0) == Seq("v", "w"))
    val zScan = zStore.scanPrunedMulti("t", Seq("id"), ranges)

    // identical results...
    val expect = df.where(col("v") <= 24.0 && col("w") <= 24.0)
      .select("id").as[Long].collect().toSet
    assert(hashScan.select("id").as[Long].collect().toSet == expect)
    assert(zScan.select("id").as[Long].collect().toSet == expect)
    // ...but the clustered layout actually skips files: a quarter-by-quarter
    // box covers ~1/16 of the z-space — at most a third of the 16 files even
    // with bin-boundary slop, while the hash layout reads all of them
    assert(nFiles(hashScan) == 16, s"hash layout read ${nFiles(hashScan)}")
    assert(nFiles(zScan) <= 5, s"z layout read ${nFiles(zScan)} of 16 files")

    // clustered files stay balanced under equi-depth binning (no empty/giant
    // file skew): every file within 3x of the mean row count
    val sizes = zStore.read("t", Seq("id"))
      .groupBy(input_file_name()).count().select("count").as[Long].collect()
    assert(sizes.length >= 8, s"expected >=8 non-empty files, got ${sizes.length}")
    assert(sizes.max <= 3 * (8000 / sizes.length), s"skewed file sizes: ${sizes.toSeq}")

    // hash-routed ops on a clustered version fail loudly instead of mis-routing
    intercept[IllegalArgumentException](zStore.lookup("t", Seq("id"), Seq(7L)))
    intercept[IllegalArgumentException](
      zStore.merge("t", Seq((1L, 1.0, 1.0)).toDF("id", "v", "w"), Seq("id")))
  }

  test("optimizeZorder + vacuum: maintenance cycle re-clusters the table and reclaims dead files") {
    val store = new BucketedStore(tmpDir("bmaint"), numBuckets = 8)
    val df = spark.range(2000).select(col("id"),
      (col("id") % 50).cast("double").as("v"),
      ((col("id") * 7919) % 50).cast("double").as("w"))
    store.write(df, "t", Seq("id"), statsCols = Seq("v", "w"))
    store.merge("t", Seq((7L, 1.0, 1.0)).toDF("id", "v", "w"), Seq("id"))

    // OPTIMIZE: new clustered version; content identical, layout clustered
    val v = store.optimizeZorder("t", Seq("id"), Seq("v", "w"))
    assert(store.clusteredBy("t", v) == Seq("v", "w"))
    val expect = df.where(col("id") =!= 7L).select("id").as[Long].collect().toSet + 7L
    assert(store.read("t", Seq("id")).select("id").as[Long].collect().toSet == expect)
    // the clustered layout prunes a 2-col box the hash layout couldn't
    val box = Seq(("v", 0.0, 9.0), ("w", 0.0, 9.0))
    val nBefore = store.scanPrunedMulti("t", Seq("id"), box, asOfVersion = Some(1))
      .inputFiles.map(_.split("/__b=")(1).split("/")(0)).distinct.length
    val nAfter = store.scanPrunedMulti("t", Seq("id"), box)
      .inputFiles.map(_.split("/__b=")(1).split("/")(0)).distinct.length
    assert(nAfter < nBefore, s"clustered scan read $nAfter vs hash $nBefore")

    // VACUUM keeping only the clustered version: v0/v1 bucket dirs reclaimed,
    // latest fully readable, manifests still on disk for audit
    val deleted = store.vacuum("t", keepVersions = 1)
    assert(deleted.nonEmpty && deleted.forall(p => p.startsWith("files_v0/") || p.startsWith("files_v1/")))
    assert(store.read("t", Seq("id")).count() == 2000)
    assert(store.versions("t") == Seq(0L, 1L, 2L))
    // below the horizon the data is gone (that's the documented trade)
    intercept[Exception](store.read("t", Seq("id"), asOfVersion = Some(0)).count())
    // idempotent: nothing left to reclaim
    assert(store.vacuum("t", keepVersions = 1).isEmpty)
  }

  test("merge recomputes stats for rewritten buckets and carries the rest") {
    val store = new BucketedStore(tmpDir("bstats2"), numBuckets = 4)
    val df = spark.range(100).select(col("id"))
      .withColumn("b", pmod(xxhash64(col("id")), lit(4)).cast("int"))
      .select(col("id"), (col("b") * 1000 + col("id")).cast("double").as("v"))
    store.write(df, "s", Seq("id"), statsCols = Seq("v"))
    // push id=7's value far outside its bucket's old band
    store.merge("s", Seq((7L, 500000.0)).toDF("id", "v"), Seq("id"))
    val hit = store.scanPruned("s", Seq("id"), "v", 499999, 500001)
    assert(hit.select("id").as[Long].collect().toSeq == Seq(7L))
    // the rewritten bucket's max widened to 500000, so only bands BELOW its
    // min can still prove disjointness — query one of those and expect one file
    val b7 = spark.range(1).select(pmod(xxhash64(lit(7L)), lit(4)).cast("int")).head().getInt(0)
    val (target, expectDirs) =
      if (b7 >= 1) (b7 - 1, 1) // below the widened bucket: prunes to 1 file
      else (1, 2)              // widened bucket is band 0: overlaps everything
    val band = store.scanPruned("s", Seq("id"), "v", target * 1000.0, target * 1000.0 + 999)
    val dirs = band.inputFiles.map(_.split("/__b=")(1).split("/")(0)).distinct
    assert(dirs.length == expectDirs, s"read ${dirs.toSeq}, wanted $expectDirs")
  }

  test("mergeAdd: sums every additive column per key in the touched buckets only; one version per call; Delta log and CDF follow") {
    val store = new BucketedStore(tmpDir("bmadd"), numBuckets = 8)
    val base = (1L to 400L).map(i => (i, i, 10 * i)).toDF("id", "n", "s")
    assert(store.mergeAdd("f", base, Seq("id")) == 0L)   // fresh feature: a write
    // key 5 twice in ONE batch (summed too), key 900 new
    val batch = Seq((5L, 2L, 10L), (5L, 3L, 1L), (900L, 1L, 7L)).toDF("id", "n", "s")
    assert(store.mergeAdd("f", batch, Seq("id")) == 1L)
    assert(store.versions("f") == Seq(0L, 1L), "exactly one version per call")

    val cur = store.read("f", Seq("id")).select("id", "n", "s")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(cur.size == 401)
    assert(cur(5L) == ((10L, 61L)), "existing key: both n and s summed, in-batch duplicates too")
    assert(cur(900L) == ((1L, 7L)), "new key inserted")
    assert((1L to 400L).filterNot(_ == 5L).forall(i => cur(i) == ((i, 10 * i))),
      "every other key keeps its row")

    // untouched buckets keep their v0 file dirs by manifest reference
    def manifest(v: Long) = "\"([0-9]+)\": \"([^\"]+)\"".r
      .findAllMatchIn(scala.io.Source.fromFile(s"${store.root}/f/_graft_log/$v.json").mkString)
      .map(m => m.group(1).toInt -> m.group(2)).toMap
    val (m0, m1) = (manifest(0), manifest(1))
    val rewritten = m1.filter { case (b, p) => !m0.get(b).contains(p) }
    assert(rewritten.size <= 2 && rewritten.values.forall(_.startsWith("files_v1/")),
      s"only the batch's buckets are rewritten: $rewritten")
    assert(m1.keySet == m0.keySet && m1.size - rewritten.size >= 6)

    // the Delta mirror replays to exactly the manifest's file set
    val live = m1.values.flatMap { rel =>
      new java.io.File(s"${store.root}/f/$rel").listFiles()
        .filter(_.getName.startsWith("part-")).map(f => s"$rel/${f.getName}")
    }.toSet
    assert(store.deltaLiveFiles("f")._1 == live)

    // CDF: summed keys are updates, new keys inserts; the +0 pass-through
    // rows sharing a touched bucket do not appear
    val cdf = store.changes("f", Seq("id"), 0L, 1L)
      .select("id", "n", "s", "_change_type").as[(Long, Long, Long, String)].collect().toSet
    assert(cdf == Set((5L, 5L, 50L, "update_preimage"), (5L, 10L, 61L, "update_postimage"),
      (900L, 1L, 7L, "insert")), s"unexpected feed: $cdf")

    // NULL keys add as ONE group (merge would accumulate them)
    val nul = Seq((None: Option[Long], 1L, 2L)).toDF("id", "n", "s")
    store.mergeAdd("g", nul, Seq("id"))
    store.mergeAdd("g", nul.union(nul), Seq("id"))
    assert(store.read("g", Seq("id")).select("id", "n", "s")
      .as[(Option[Long], Long, Long)].collect().toSeq == Seq((None, 3L, 6L)))
  }

  test("appendBucketed + compactBuckets: O(batch) growth, widened stats, fold-back, vacuum") {
    val store = new BucketedStore(tmpDir("bappend"), numBuckets = 8)
    val base = spark.range(800).select(col("id"), (col("id") % 100).cast("double").as("v"))
    store.write(base, "t", Seq("id"), statsCols = Seq("v"))

    // append a small batch with an OUT-OF-RANGE stats value
    val batch = Seq((9001L, 5000.0), (9002L, 5001.0)).toDF("id", "v")
    store.appendBucketed("t", batch, Seq("id"))
    // content: union, no rewrite of untouched buckets (their v0 dirs remain
    // the only entry)
    assert(store.read("t", Seq("id")).count() == 802)
    val m1 = scala.io.Source.fromFile(s"${store.root}/t/_graft_log/1.json").mkString
    val entries = "\"([0-9]+)\": \"([^\"]+)\"".r.findAllMatchIn(m1)
      .map(m => m.group(1).toInt -> m.group(2).split(';').toSeq).toMap
    assert(entries.values.count(_.size > 1) <= 2, s"more buckets touched than batch rows: $entries")
    assert(entries.values.count(_.size > 1) >= 1)
    assert(entries.values.flatten.count(_.startsWith("files_v0/")) == 8,
      "append must keep every v0 dir referenced")
    // lookup sees appended rows through the multi-dir bucket
    assert(store.lookup("t", Seq("id"), Seq(9001L)).select("v").as[Double]
      .collect().toSeq == Seq(5000.0))
    // stats widened: the 5000-range scan finds the appended rows
    val hit = store.scanPruned("t", Seq("id"), "v", 4999.0, 5002.0)
    assert(hit.select("id").as[Long].collect().toSet == Set(9001L, 9002L))

    // compact folds multi-dir buckets back to one; content and stats survive
    val vC = store.compactBuckets("t", Seq("id"))
    val mC = scala.io.Source.fromFile(s"${store.root}/t/_graft_log/$vC.json").mkString
    assert(!mC.contains(";"), s"compacted manifest still multi-dir: $mC")
    assert(store.read("t", Seq("id")).count() == 802)
    assert(store.scanPruned("t", Seq("id"), "v", 4999.0, 5002.0)
      .select("id").as[Long].collect().toSet == Set(9001L, 9002L))
    // idempotent no-op when nothing is multi-dir
    assert(store.compactBuckets("t", Seq("id")) == vC)
    // vacuum keeps the compacted layout readable
    store.vacuum("t", keepVersions = 1)
    assert(store.read("t", Seq("id")).count() == 802)
  }

  test("stats stay sound under NaN values; merge rejects duplicate-key batches; schema widens through append+compact") {
    val store = new BucketedStore(tmpDir("bedge"), numBuckets = 4)
    // one NaN row must not poison its bucket's max (which would prune away
    // real matches); the NaN row itself is range-unmatchable
    val df = spark.range(100).select(col("id"),
      when(col("id") === 7, lit(Double.NaN)).otherwise(col("id").cast("double")).as("v"))
    store.write(df, "t", Seq("id"), statsCols = Seq("v"))
    val hit = store.scanPruned("t", Seq("id"), "v", 50.0, 60.0)
    assert(hit.select("id").as[Long].collect().toSet == (50L to 60L).toSet)

    // merge with duplicate keys in the batch = silent double-row corruption;
    // must fail loudly instead
    intercept[IllegalArgumentException](
      store.merge("t", Seq((7L, 1.0), (7L, 2.0)).toDF("id", "v"), Seq("id")))

    // a widening append (new column) + compact must not lose the column to
    // single-footer schema inference
    store.appendBucketed("t",
      Seq((9001L, 1.0, "extra")).toDF("id", "v", "note"), Seq("id"))
    store.compactBuckets("t", Seq("id"))
    val out = store.read("t", Seq("id"))
    assert(out.columns.contains("note"), out.columns.mkString(","))
    assert(out.where(col("id") === 9001L).select("note").as[String]
      .collect().toSeq == Seq("extra"))
    assert(out.count() == 101)
  }

  test("delta-log add actions carry per-file min/max stats in the open layout") {
    val store = new BucketedStore(tmpDir("bdstats"), numBuckets = 4)
    val df = spark.range(100).select(col("id"),
      (col("id") * 2).cast("double").as("v"))
    store.write(df, "f", Seq("id"), statsCols = Seq("v"))
    val adds = scala.io.Source.fromFile(f"${store.root}/f/_delta_log/${0L}%020d.json")
      .getLines().filter(_.contains(""""add":{""")).toSeq
    assert(adds.nonEmpty)
    adds.foreach { a =>
      // the stats field is a JSON STRING (escaped) per the Delta spec
      val m = """"stats":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(a)
        .getOrElse(fail(s"no stats in $a"))
      val stats = m.group(1).replace("\\\"", "\"")
      assert(stats.contains(""""minValues":{"v":""") &&
        stats.contains(""""maxValues":{"v":"""), stats)
    }
    // untracked write: adds carry no stats field, log still well-formed
    store.write(df.select("id"), "g", Seq("id"))
    val g = scala.io.Source.fromFile(f"${store.root}/g/_delta_log/${0L}%020d.json")
      .getLines().filter(_.contains(""""add":{""")).toSeq
    assert(g.nonEmpty && g.forall(!_.contains(""""stats"""")))
  }

  test("delta-log probe: commit JSONs mirror the manifest and replay to the live file set") {
    val store = new BucketedStore(tmpDir("bdelta"), numBuckets = 8)
    val base = (1L to 400L).map(i => (i, s"name$i")).toDF("id", "name")
    store.write(base, "f", Seq("id"))
    store.merge("f", Seq((42L, "FORTY-TWO"), (300L, "THREE")).toDF("id", "name"), Seq("id"))

    def actions(v: Long): Seq[String] = {
      val p = f"${store.root}/f/_delta_log/$v%020d.json"
      scala.io.Source.fromFile(p).getLines().toSeq
    }
    def field(line: String, key: String): String =
      s""""$key":"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(line).map(_.group(1))
        .getOrElse(fail(s"no $key in $line"))

    // v0: protocol, metaData (schemaString parses back to a Spark schema,
    // partitioned by __b), one add per manifest bucket, every path live
    val v0 = actions(0)
    assert(v0.head.contains(""""protocol":{"minReaderVersion":1"""))
    val meta = v0(1)
    assert(meta.contains(""""partitionColumns":["__b"]"""))
    val schemaStr = field(meta, "schemaString").replace("\\\"", "\"")
    val parsed = org.apache.spark.sql.types.DataType.fromJson(schemaStr)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(parsed.fieldNames.toSet == Set("id", "name", "__b"), parsed.treeString)
    val adds0 = v0.drop(2)
    assert(adds0.forall(_.contains(""""add":{""")))
    adds0.foreach { a =>
      assert(new java.io.File(s"${store.root}/f/${field(a, "path")}").exists(), a)
    }

    // v1 (merge): adds for rewritten buckets, removes for the replaced files
    val v1 = actions(1)
    val adds1 = v1.filter(_.contains(""""add":{"""))
    val removes1 = v1.filter(_.contains(""""remove":{"""))
    assert(adds1.nonEmpty && removes1.nonEmpty)
    assert(removes1.forall(r => field(r, "path").startsWith("files_v0/")))

    // replaying the log (v0 adds + v1 adds - v1 removes) reconstructs
    // EXACTLY the file set the native v1 manifest references
    val replayed = (adds0 ++ adds1).map(field(_, "path")).toSet --
      removes1.map(field(_, "path")).toSet
    val m1 = scala.io.Source.fromFile(s"${store.root}/f/_graft_log/1.json").mkString
    val manifestDirs = "\"([0-9]+)\": \"([^\"]+)\"".r.findAllMatchIn(m1)
      .map(_.group(2)).toSet
    val live = manifestDirs.flatMap { rel =>
      new java.io.File(s"${store.root}/f/$rel").listFiles()
        .filter(_.getName.startsWith("part-")).map(f => s"$rel/${f.getName}")
    }
    assert(replayed == live, s"replayed ${replayed.size} vs live ${live.size}")
  }

  test("changes: CDF between versions reads only rewritten buckets; insert/update/delete classified") {
    val store = new BucketedStore(tmpDir("bcdf"), numBuckets = 8)
    val base = (1L to 400L).map(i => (i, s"name$i")).toDF("id", "name")
    store.write(base, "f", Seq("id"))                                    // v0
    store.merge("f", Seq((42L, "FORTY-TWO"), (998L, "NEW")).toDF("id", "name"), Seq("id")) // v1
    val cdf = store.changes("f", Seq("id"), 0L, 1L)
    val rows = cdf.select("id", "name", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(rows == Set(
      (998L, "NEW", "insert"),
      (42L, "name42", "update_preimage"),
      (42L, "FORTY-TWO", "update_postimage")),
      s"unexpected feed: $rows")
    // file-level bound: the feed reads only the rewritten buckets' files of
    // the two versions, never the untouched snapshot
    val touched = cdf.inputFiles.map(_.split("/__b=")(1).split("/")(0)).distinct
    assert(touched.length <= 2 * 2, s"CDF read ${touched.length} buckets for a 2-key merge")
    // identical versions adjacent: merging an EQUAL row is an update by
    // hash only if the payload differs — re-merging the same value emits
    // nothing for that key
    store.merge("f", Seq((42L, "FORTY-TWO"), (999L, "X")).toDF("id", "name"), Seq("id")) // v2
    val cdf2 = store.changes("f", Seq("id"), 1L, 2L)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(cdf2 == Set((999L, "insert")), s"re-merged equal row must not appear: $cdf2")
    // schema evolution: v3 adds column w for one key — the feed carries the
    // TO schema and the gained value registers as an update
    store.merge("f", Seq((7L, "name7", 3.5)).toDF("id", "name", "w"), Seq("id")) // v3
    val cdf3 = store.changes("f", Seq("id"), 2L, 3L)
    assert(cdf3.columns.toSet == Set("id", "name", "w", "_change_type"))
    val r3 = cdf3.select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(r3 == Set((7L, "update_preimage"), (7L, "update_postimage")), r3.toString)
    // a full write that drops rows surfaces them as deletes
    store.write(base.where(col("id") <= 100), "f", Seq("id"))            // v4
    val del = store.changes("f", Seq("id"), 3L, 4L)
      .where(col("_change_type") === "delete").count()
    assert(del == 302, s"expected 300 base deletes + 998/999 inserts gone, got $del")
    // no changes between a version and itself-equivalent span: empty feed
    assert(store.changes("f", Seq("id"), 0L, 1L).count() == 3)
  }

  test("pollChanges: durable cursor delivers each change once; crash before advance replays") {
    val store = new BucketedStore(tmpDir("bpoll"), numBuckets = 8)
    store.write((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), "f", Seq("id")) // v0
    // first poll: bootstrap snapshot as inserts
    val (boot, to0) = store.pollChanges("f", Seq("id"), "consumer_a")
    assert(to0 == 0L && boot.count() == 100 &&
      boot.select("_change_type").distinct().as[String].collect().toSeq == Seq("insert"))
    store.advanceCursor("f", "consumer_a", to0)
    // caught up: empty feed, position unchanged
    val (empty, toSame) = store.pollChanges("f", Seq("id"), "consumer_a")
    assert(toSame == 0L && empty.count() == 0)
    // two merges, then one poll: the feed spans BOTH versions
    store.merge("f", Seq((5L, "UPD5")).toDF("id", "v"), Seq("id"))   // v1
    store.merge("f", Seq((200L, "NEW")).toDF("id", "v"), Seq("id")) // v2
    val (feed, to2) = store.pollChanges("f", Seq("id"), "consumer_a")
    assert(to2 == 2L)
    val kinds = feed.select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(kinds == Set((5L, "update_preimage"), (5L, "update_postimage"), (200L, "insert")), kinds.toString)
    // crash before advance: the SAME feed replays (at-least-once)
    val (replay, toR) = store.pollChanges("f", Seq("id"), "consumer_a")
    assert(toR == 2L &&
      replay.select("id", "_change_type").as[(Long, String)].collect().toSet == kinds)
    store.advanceCursor("f", "consumer_a", to2)
    assert(store.pollChanges("f", Seq("id"), "consumer_a")._1.count() == 0)
    // a SECOND consumer has its own independent cursor (bootstraps fresh)
    val (boot2, _) = store.pollChanges("f", Seq("id"), "consumer_b")
    assert(boot2.count() == 101)
    // cursors are monotone: accidental rewind is refused
    intercept[IllegalArgumentException](store.advanceCursor("f", "consumer_a", 0L))
  }

  test("pollChanges: a crashed advanceCursor leaves the last committed position readable; vacuum reaps its debris") {
    import org.apache.hadoop.fs.Path
    val store = new BucketedStore(tmpDir("bpollcrash"), numBuckets = 4)
    store.write((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"), "f", Seq("id")) // v0
    store.advanceCursor("f", "c", store.pollChanges("f", Seq("id"), "c")._2)
    store.merge("f", Seq((3L, "UPD"), (30L, "NEW")).toDF("id", "v"), Seq("id")) // v1
    def rows(feed: org.apache.spark.sql.DataFrame) =
      feed.select("id", "_change_type").as[(Long, String)].collect().toSet
    val (feed, to1) = store.pollChanges("f", Seq("id"), "c")
    // an advance that died after claiming its slot and opening its temp
    // file: the claim lock and an empty (torn) temp stay behind
    val dir = new Path(s"${store.root}/_cursor/${store.cursorName("cdf", "f", "c")}")
    val hfs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val slot = hfs.listStatus(dir).map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max + 1
    val debris = Seq(new Path(dir, s"$slot.lock"), new Path(dir, s"$slot.tmp.deadbeef"))
    debris.foreach(hfs.create(_, false).close())
    // the consumer resumes from its last COMMITTED position
    assert(store.cursorPosition("f", "c").contains(0L))
    val (replay, toR) = store.pollChanges("f", Seq("id"), "c")
    assert(toR == to1 && rows(replay) == rows(feed) && rows(feed).nonEmpty,
      s"resume must replay the uncommitted feed: ${rows(replay)} vs ${rows(feed)}")
    // once aged past the reaper's horizon, vacuum clears the debris
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    debris.foreach(hfs.setTimes(_, old, old))
    store.vacuum("f", keepVersions = 2)
    assert(debris.forall(!hfs.exists(_)), "vacuum must reap the crashed advance's debris")
    // and the cursor still advances past the crashed slot
    store.advanceCursor("f", "c", to1)
    assert(store.cursorPosition("f", "c").contains(to1))
    assert(store.pollChanges("f", Seq("id"), "c")._1.count() == 0)
  }

  test("delta checkpoint: 20-version table opens from checkpoint + tail commits only") {
    // checkpoint every 5 commits: a 20-version history must open from the
    // v20 checkpoint + 0 tail commits, not a 21-commit replay
    val store = new BucketedStore(tmpDir("bckpt"), numBuckets = 8,
      deltaCheckpointEvery = 5)
    val base = (1L to 400L).map(i => (i, s"name$i")).toDF("id", "name")
    store.write(base, "f", Seq("id"))                                   // v0
    (1 to 20).foreach { i =>                                            // v1..v20
      store.merge("f",
        Seq((i.toLong, s"UPD$i"), (200L + i, s"U$i")).toDF("id", "name"), Seq("id"))
    }
    val logDir = new java.io.File(s"${store.root}/f/_delta_log")
    // _last_checkpoint points at the newest multiple of 5
    val last = scala.io.Source.fromFile(new java.io.File(logDir, "_last_checkpoint")).mkString
    assert(last.contains("\"version\":20"), last)
    assert(new java.io.File(logDir, f"${20L}%020d.checkpoint.parquet").isFile)
    // the checkpoint parquet carries protocol + metaData + one add per live
    // file, with per-file stats where tracked
    val ck = spark.read.parquet(s"${store.root}/f/_delta_log/" + f"${20L}%020d" + ".checkpoint.parquet")
    assert(ck.where(col("protocol").isNotNull).count() == 1)
    assert(ck.where(col("metaData").isNotNull).count() == 1)
    val nAdds = ck.where(col("add").isNotNull).count()
    // replay FROM THE MIRROR ALONE: live set matches the native manifest,
    // and the replay read zero tail commits past the checkpoint
    val (live, commitsRead) = store.deltaLiveFiles("f")
    assert(commitsRead == 0, s"read $commitsRead tail commits, checkpoint should cover all")
    assert(live.size == nAdds.toInt)
    val native = store.read("f", Seq("id")).inputFiles
      .map(_.split("/f/").last).toSet
    assert(live == native, s"mirror live set ${live.size} != native ${native.size}")
    // two more commits: replay = checkpoint + exactly the 2 tail commits
    store.merge("f", Seq((999L, "tail1")).toDF("id", "name"), Seq("id")) // v21
    store.merge("f", Seq((998L, "tail2")).toDF("id", "name"), Seq("id")) // v22
    val (live2, commitsRead2) = store.deltaLiveFiles("f")
    assert(commitsRead2 == 2, s"expected 2 tail commits, read $commitsRead2")
    val native2 = store.read("f", Seq("id")).inputFiles
      .map(_.split("/f/").last).toSet
    assert(live2 == native2)
    // next multiple of 5 rolls the checkpoint forward
    (1 to 2).foreach(i =>
      store.merge("f", Seq((900L + i, s"x$i")).toDF("id", "name"), Seq("id"))) // v23, v24
    // the checkpoint-writing commit of a local batch runs no Spark job
    val (_, ckptJobs) = jobsDuring(
      store.merge("f", Seq((903L, "x3")).toDF("id", "name"), Seq("id")))     // v25
    assert(ckptJobs == 0, s"checkpoint-writing commit ran $ckptJobs Spark jobs")
    val last2 = scala.io.Source.fromFile(new java.io.File(logDir, "_last_checkpoint")).mkString
    assert(last2.contains("\"version\":25"), last2)
    assert(store.deltaLiveFiles("f")._2 == 0)
  }

  test("delta-log fidelity: maintenance commits are dataChange:false, schema evolution re-emits metaData, vacuum horizon fails loudly") {
    val store = new BucketedStore(tmpDir("bfidelity"), numBuckets = 4)
    val base = (1L to 200L).map(i => (i, i.toDouble)).toDF("id", "v")
    store.write(base, "f", Seq("id"))                                  // v0
    def actions(v: Long): Seq[String] = scala.io.Source
      .fromFile(f"${store.root}/f/_delta_log/$v%020d.json").getLines().toSeq

    // schema-EVOLVING merge (new column w): metaData is re-emitted with the
    // widened schema, as an external reader needs to pick up mid-log
    store.merge("f", Seq((5L, 5.0, "x")).toDF("id", "v", "w"), Seq("id")) // v1
    val meta1 = actions(1).filter(_.contains(""""metaData":{"""))
    assert(meta1.size == 1, "schema-evolving merge must re-emit metaData")
    assert(meta1.head.contains("\\\"w\\\""), meta1.head)
    // schema-PRESERVING merge: no metaData action
    store.merge("f", Seq((6L, 6.0, "y")).toDF("id", "v", "w"), Seq("id")) // v2
    assert(actions(2).forall(!_.contains(""""metaData":{""")))

    // append + compact: the compaction commit carries dataChange:false on
    // every action (a Delta streaming reader must not re-ingest the files)
    store.appendBucketed("f", Seq((901L, 1.0, "z")).toDF("id", "v", "w"), Seq("id")) // v3
    assert(actions(3).filter(_.contains(""""add":{"""))
      .forall(_.contains(""""dataChange":true""")))
    val v4 = store.compactBuckets("f", Seq("id"))
    assert(v4 == 4L)
    val acts4 = actions(4).filter(a => a.contains(""""add":{""") || a.contains(""""remove":{"""))
    assert(acts4.nonEmpty && acts4.forall(_.contains(""""dataChange":false""")), acts4.mkString("\n"))
    // OPTIMIZE ZORDER is likewise a logical no-op rewrite
    store.optimizeZorder("f", Seq("id"), Seq("v"))                     // v5
    val acts5 = actions(5).filter(a => a.contains(""""add":{""") || a.contains(""""remove":{"""))
    assert(acts5.nonEmpty && acts5.forall(_.contains(""""dataChange":false""")))

    // vacuum records its horizon; a read below it names the horizon instead
    // of failing deep in parquet path resolution
    store.vacuum("f", keepVersions = 1)
    assert(store.vacuumHorizon("f").contains(5L))
    val e = intercept[IllegalStateException](store.read("f", Seq("id"), asOfVersion = Some(1)))
    assert(e.getMessage.contains("vacuum horizon 5"), e.getMessage)
    assert(store.read("f", Seq("id")).count() == 201)
    // horizon is MONOTONE: after new versions land, a vacuum with a larger
    // keepVersions must NOT lower it below already-reclaimed versions
    // (v5 is clustered, so the new version is a full write, not a merge)
    store.write(base.toDF("id", "v"), "f", Seq("id"))                  // v6
    store.vacuum("f", keepVersions = 5)
    assert(store.vacuumHorizon("f").contains(5L),
      s"horizon dropped to ${store.vacuumHorizon("f")} — reads of reclaimed versions would pass the guard")
    intercept[IllegalStateException](store.read("f", Seq("id"), asOfVersion = Some(3)))
  }

  test("atomic cursors: publish/read roundtrip, latest-wins, append-only slots") {
    val store = new BucketedStore(tmpDir("bcur"), numBuckets = 4)
    assert(store.readCursor("trio").isEmpty)
    store.writeCursor("trio", "0\t0\t0")
    assert(store.readCursor("trio").contains("0\t0\t0"))
    // re-publication takes a NEW numbered slot; readers always see the
    // latest complete record (no delete window, no half-written file)
    store.writeCursor("trio", "1\t1\t1")
    store.writeCursor("trio", "2\t1\t2")
    assert(store.readCursor("trio").contains("2\t1\t2"))
    // independent cursor names don't interfere
    store.writeCursor("other", "x")
    assert(store.readCursor("trio").contains("2\t1\t2"))
    assert(store.readCursor("other").contains("x"))
    // crash recovery: a writer that died between claiming a slot and
    // renaming into it leaves an orphaned .lock; the next publish must
    // skip PAST it (readers tolerate the numbering gap) instead of
    // retrying the wedged slot forever
    val dir = new org.apache.hadoop.fs.Path(s"${store.root}/_cursor/trio")
    val hfs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.create(new org.apache.hadoop.fs.Path(dir, "3.lock"), false).close()
    store.writeCursor("trio", "4\t4\t4")
    assert(store.readCursor("trio").contains("4\t4\t4"),
      "an orphaned claim must not wedge the cursor")
    // orphan reaping: crash debris (.lock + writer-unique .tmp.<nonce>)
    // OLDER than the horizon is deleted; a LIVE (fresh) claim is untouched
    val orphanTmp = new org.apache.hadoop.fs.Path(dir, "3.tmp.deadbeef")
    hfs.create(orphanTmp, false).close()
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    hfs.setTimes(new org.apache.hadoop.fs.Path(dir, "3.lock"), old, old)
    hfs.setTimes(orphanTmp, old, old)
    val live = new org.apache.hadoop.fs.Path(dir, "9.lock") // a claim in flight
    hfs.create(live, false).close()
    val reaped = store.reapCursorLocks()
    assert(reaped.toSet == Set("_cursor/trio/3.lock", "_cursor/trio/3.tmp.deadbeef"),
      s"exactly the aged debris goes: $reaped")
    assert(hfs.exists(live), "a live claim must never be reaped")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(dir, "3.lock")))
    assert(store.readCursor("trio").contains("4\t4\t4"),
      "published records are untouched by the reaper")
    hfs.delete(live, false)
    // vacuum runs the reaper as part of the standing maintenance cadence
    hfs.create(new org.apache.hadoop.fs.Path(dir, "5.lock"), false).close()
    hfs.setTimes(new org.apache.hadoop.fs.Path(dir, "5.lock"), old, old)
    import spark.implicits._
    store.write(Seq((1L, "a")).toDF("id", "v"), "bcur_f", Seq("id"))
    store.vacuum("bcur_f", keepVersions = 1)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(dir, "5.lock")),
      "vacuum must reap aged cursor debris")
  }

  test("runBucketed: memoizing runner over file-level merge") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("brun")
    val store = new BucketedStore(root, numBuckets = 16)
    val registry = new Registry(root)
    val feature = FeatureDef("cust_stats", Seq("c_custkey"), "v1",
      df => df.groupBy("c_custkey").agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend")))
    val input = graft.Tables.load(spark, sfDir, "customer")
      .join(graft.Tables.load(spark, sfDir, "orders"), col("c_custkey") === col("o_custkey"))
    val r1 = PipelineRunner.runBucketed(feature, input, store, registry,
      checks = Seq(Checks.unique(Seq("c_custkey"))))
    assert(!r1.memoHit && r1.report.status == "ok")
    // rerun: record-level memo hit, no new version
    val r2 = PipelineRunner.runBucketed(feature, input, store, registry)
    assert(r2.memoHit && r2.report.nNovel == 0 && r2.report.storeVersion == r1.report.storeVersion)
    // one changed entity -> one novel record, tiny rewrite
    val changed = input.filter(col("o_orderkey") =!= input.select(min("o_orderkey")).collect()(0).getLong(0))
    val r3 = PipelineRunner.runBucketed(feature, changed, store, registry)
    assert(r3.report.nNovel == 1 && r3.report.nRows == r1.report.nRows)
  }

  /** lookup's rows and schema against `read(...).where(key = literal)`;
    * returns the lookup frame and the Spark jobs its lookup + collect ran. */
  private def sameAsRead(store: BucketedStore, feature: String, keys: Seq[String],
      values: Seq[Any], asOf: Option[Long] = None): (org.apache.spark.sql.DataFrame, Int) = {
    val ((got, rows), jobs) = jobsDuring {
      val df = store.lookup(feature, keys, values, asOf)
      (df, df.collect().toSeq)
    }
    val want = store.read(feature, keys, asOf)
      .where(keys.zip(values).map { case (k, v) => col(k) === lit(v) }.reduce(_ && _))
    val ctx = s"$feature ${values.mkString(",")} @ $asOf"
    assert(got.schema == want.schema, s"$ctx: ${got.schema} vs ${want.schema}")
    assert(rows.map(_.toString).sorted == want.collect().toSeq.map(_.toString).sorted, ctx)
    (got, jobs)
  }

  /** [[sameAsRead]], plus: the lookup ran no Spark job and scans no file
    * through Spark. Returns its rows. */
  private def jobFreeLookup(store: BucketedStore, feature: String, keys: Seq[String],
      values: Seq[Any], asOf: Option[Long] = None): Seq[org.apache.spark.sql.Row] = {
    val (df, jobs) = sameAsRead(store, feature, keys, values, asOf)
    assert(jobs == 0, s"$feature ${values.mkString(",")}: $jobs Spark jobs")
    assert(df.inputFiles.isEmpty, "a driver-read lookup scans no files through Spark")
    df.collect().toSeq
  }

  /** bucket -> dirs of a committed manifest, parsed from its log file. */
  private def manifestOf(store: BucketedStore, feature: String, v: Long): Map[Int, Seq[String]] = {
    val m = scala.io.Source.fromFile(s"${store.root}/$feature/_graft_log/$v.json").mkString
    "\"([0-9]+)\": \"([^\"]+)\"".r.findAllMatchIn(m)
      .map(e => e.group(1).toInt -> e.group(2).split(';').toSeq).toMap
  }

  test("lookup runs no Spark job for NULL keys, time travel, multi-dir buckets and a cold cache") {
    val store = new BucketedStore(tmpDir("blocal"), numBuckets = 8)
    store.write((1L to 400L).map(i => (i, s"name$i", i * 0.5)).toDF("id", "name", "score"), "fl", Seq("id"))
    def names(values: Seq[Any], asOf: Option[Long] = None) =
      jobFreeLookup(store, "fl", Seq("id"), values, asOf).map(_.getString(1)).sorted

    // stored NULL-key rows (merge's equi-join never matches NULL, so they
    // accumulate) are still not matched by a NULL key
    store.merge("fl", Seq((None: Option[Long], "nullkey", 1.0), (Some(7L), "SEVEN", 7.0))
      .toDF("id", "name", "score"), Seq("id"))
    assert(store.read("fl", Seq("id")).where(col("id").isNull).count() == 1)
    assert(names(Seq(null)).isEmpty, "a NULL key matches nothing")
    // time travel: v0 still has the old row, v1 the merged one
    assert(names(Seq(7L), asOf = Some(0L)) == Seq("name7"))
    assert(names(Seq(7L)) == Seq("SEVEN"))

    // multi-dir bucket after appendBucketed: both dirs are read
    store.appendBucketed("fl", Seq((7L, "seven-b", 7.5), (9001L, "n9001", 1.0))
      .toDF("id", "name", "score"), Seq("id"))
    assert(names(Seq(7L)) == Seq("SEVEN", "seven-b"))
    assert(names(Seq(9001L)) == Seq("n9001"))

    // a cold cache reads the footers on the driver: still no job, and the
    // driver-read schema equals what Spark infers
    Seq(BucketedStore.dirSchemaCache, BucketedStore.mergedSchemaCache).foreach(c =>
      c.keySet.filter(_._1 == store.root).foreach(c.remove))
    assert(names(Seq(7L)) == Seq("SEVEN", "seven-b"))

    // schema-widened multi-dir bucket: its dirs disagree, so the lookup is
    // a Spark scan (mergeSchema) with the same answer
    store.appendBucketed("fl", Seq((7L, "seven-c", 7.7, "wide")).toDF("id", "name", "score", "note"),
      Seq("id"))
    val (wide, _) = sameAsRead(store, "fl", Seq("id"), Seq(7L))
    assert(wide.inputFiles.nonEmpty, "a schema-disagreeing bucket takes the Spark scan")
    assert(wide.columns.contains("note") && wide.count() == 3)
  }

  test("schema cache: commit-seeded schemas equal Spark's inference; agreeing dirs read without inference") {
    val store = new BucketedStore(tmpDir("bseed"), numBuckets = 4)
    def inferred(feature: String, rels: Seq[String]) =
      spark.read.option("mergeSchema", "true").parquet(rels.map(r => s"${store.root}/$feature/$r"): _*).schema
    def manifest(feature: String) = manifestOf(store, feature, store.latestVersion(feature).get).values.toSeq
    def seededMatch(feature: String): Unit = manifest(feature).flatten.distinct.foreach { rel =>
      val seeded = BucketedStore.dirSchemaCache.get((store.root, feature, rel))
      assert(seeded.contains(inferred(feature, Seq(rel))), s"$feature $rel: $seeded")
    }
    // merged
    store.write((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name"), "m", Seq("id"))
    store.merge("m", Seq((3L, "three")).toDF("id", "name"), Seq("id"))
    seededMatch("m")
    // appended: multi-dir buckets whose dirs agree read with no inference job
    store.write(spark.range(100).select(col("id"), (col("id") * 2).as("v")), "a", Seq("id"))
    store.appendBucketed("a", spark.range(100, 110).select(col("id"), (col("id") * 2).as("v")), Seq("id"))
    seededMatch("a")
    assert(manifest("a").exists(_.size > 1))
    val (all, jobs) = jobsDuring(store.read("a", Seq("id")))
    assert(jobs == 0, s"read of agreeing dirs ran $jobs jobs")
    assert(all.schema == inferred("a", manifest("a").flatten) && all.count() == 110)
    // schema-widened: the new dirs carry the wider schema, the full read
    // still merges both
    store.write((1L to 50L).map(i => (i, i.toDouble)).toDF("id", "v"), "w", Seq("id"))
    store.merge("w", Seq((2L, 2.5, "x")).toDF("id", "v", "note"), Seq("id"))
    store.appendBucketed("w", Seq((77L, 7.0, "y")).toDF("id", "v", "note"), Seq("id"))
    seededMatch("w")
    val wide = store.read("w", Seq("id"))
    assert(wide.schema == inferred("w", manifest("w").flatten), wide.schema)
    assert(wide.where(col("note").isNotNull).count() == 2 && wide.count() == 51)
  }

  test("vacuum evicts reclaimed versions from the JVM-wide caches") {
    val store = new BucketedStore(tmpDir("bevict"), numBuckets = 4)
    store.write(spark.range(200).select(col("id"), col("id").cast("double").as("v")),
      "t", Seq("id"), statsCols = Seq("v"))
    (1 to 3).foreach(i => store.merge("t", Seq((i.toLong, i * 10.0)).toDF("id", "v"), Seq("id")))
    store.versions("t").foreach { v =>
      assert(store.read("t", Seq("id"), Some(v)).count() == 200)
      store.scanPruned("t", Seq("id"), "v", 0.0, 5.0, Some(v)).count()
    }
    def cached(v: Long) = BucketedStore.manifestCache.contains((store.root, "t", v)) ||
      BucketedStore.statsCache.contains((store.root, "t", v))
    assert(cached(0L) && cached(1L))
    val dead = store.vacuum("t", keepVersions = 1)
    assert(dead.nonEmpty)
    val horizon = store.vacuumHorizon("t").get
    assert(horizon == 3L)
    assert((0L until horizon).forall(v => !cached(v)), "a reclaimed version is still cached")
    val named = Seq(BucketedStore.dirSchemaCache, BucketedStore.mergedSchemaCache).flatMap(_.keySet
      .filter(k => k._1 == store.root && k._2 == "t" && k._3.split(';').exists(dead.toSet)))
    assert(named.isEmpty, s"schema entries name reclaimed dirs: $named")
    assert(store.read("t", Seq("id")).count() == 200)
    assert(store.lookup("t", Seq("id"), Seq(3L)).select("v").as[Double].collect().toSeq == Seq(30.0))
  }

  private def frame(schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  test("a one-row merge into a hash-bucketed feature runs at most 3 Spark jobs") {
    val store = new BucketedStore(tmpDir("bjobs"), numBuckets = 32)
    store.write((0L until 1500L).map(k => (k, k * 7, 0L)).toDF("key", "latest", "seq"),
      "latest", Seq("key"))
    // the serving shape: one row through a per-key transform with its own
    // exchange. Jobs: that exchange and the batch collect; the write runs on
    // the driver
    val serve = Seq((42L, 99L, 1L)).toDF("key", "value", "seq")
      .groupBy("key").agg(max_by(col("value"), col("seq")).as("latest"), max("seq").as("seq"))
    val (v1, jobs) = jobsDuring(store.merge("latest", serve, Seq("key")))
    assert(jobs <= 2, s"one-row merge ran $jobs Spark jobs")
    // a batch already on the driver runs no job: the touched bucket is
    // rewritten on the driver
    val (v2, localJobs) = jobsDuring(
      store.merge("latest", Seq((7L, 5L, 2L)).toDF("key", "latest", "seq"), Seq("key")))
    assert(localJobs == 0, s"one-row local merge ran $localJobs Spark jobs")
    assert((v1, v2) == (1L, 2L))
    val cur = store.read("latest", Seq("key"))
    assert(cur.count() == 1500 && cur.select("key").distinct().count() == 1500)
    assert(store.lookup("latest", Seq("key"), Seq(42L)).select("latest", "seq")
      .as[(Long, Long)].collect().toSeq == Seq((99L, 1L)))
    assert(store.lookup("latest", Seq("key"), Seq(7L)).select("latest", "seq")
      .as[(Long, Long)].collect().toSeq == Seq((5L, 2L)))
  }

  test("merge's duplicate-key check rejects exactly what count == countDistinct(struct(keys)) rejects") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val store = new BucketedStore(tmpDir("bdupkeys"), numBuckets = 4)
    def check(feature: String, schema: StructType, keys: Seq[String], base: Row)(
        cases: (Seq[Row], Boolean)*): Unit = {
      store.write(frame(schema, Seq(base)), feature, keys)
      cases.foreach { case (rows, dup) =>
        val df = frame(schema, rows)
        val cnt = df.agg(count(lit(1)), countDistinct(struct(keys.map(col): _*))).head()
        assert((cnt.getLong(0) != cnt.getLong(1)) == dup, s"$feature $rows: Spark's counts $cnt")
        val rejected =
          try { store.merge(feature, df, keys); false }
          catch { case _: IllegalArgumentException => true }
        assert(rejected == dup, s"$feature $rows: rejected=$rejected")
      }
    }
    val composite = StructType(Seq(StructField("a", LongType), StructField("b", StringType),
      StructField("v", IntegerType)))
    check("composite", composite, Seq("a", "b"), Row(100L, "base", 0))(
      Seq(Row(1L, null, 1), Row(1L, null, 2)) -> true,
      Seq(Row(null, "x", 1), Row(null, "x", 2)) -> true,
      Seq(Row(null, null, 1), Row(null, null, 2)) -> true,
      Seq(Row(1L, null, 1), Row(2L, null, 2)) -> false,
      Seq(Row(1L, null, 1), Row(null, "1", 2), Row(null, null, 3)) -> false)
    val binary = StructType(Seq(StructField("k", BinaryType), StructField("v", IntegerType)))
    // distinct arrays, equal content: Row.hashCode hashes an Array[Byte] by
    // identity, so the check must compare content
    check("binary", binary, Seq("k"), Row(Array[Byte](9), 0))(
      Seq(Row(Array[Byte](1, 2), 1), Row(Array[Byte](1, 2), 2)) -> true,
      Seq(Row(Array[Byte](1, 2), 1), Row(Array[Byte](1, 3), 2)) -> false,
      Seq(Row(Array.emptyByteArray, 1), Row(null, 2)) -> false)
    val double = StructType(Seq(StructField("k", DoubleType), StructField("v", IntegerType)))
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    check("double", double, Seq("k"), Row(100.0, 0))(
      Seq(Row(Double.NaN, 1), Row(Double.NaN, 2)) -> true,
      Seq(Row(Double.NaN, 1), Row(otherNaN, 2)) -> true,
      Seq(Row(0.0, 1), Row(-0.0, 2)) -> true,
      Seq(Row(1.0, 1), Row(2.0, 2)) -> false)
  }

  test("merge replaces stored rows by the equi-join's key equality; NULL key parts never match") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val store = new BucketedStore(tmpDir("bkeyeq"), numBuckets = 4)
    def vs(feature: String) = store.read(feature, Nil).select("v").as[Int].collect().toSeq.sorted

    val double = StructType(Seq(StructField("k", DoubleType), StructField("v", IntegerType)))
    store.write(frame(double, Seq(Row(Double.NaN, 0), Row(0.0, 0), Row(5.0, 0))), "d", Seq("k"))
    store.merge("d", frame(double, Seq(
      Row(java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 1), Row(-0.0, 2))), Seq("k"))
    assert(vs("d") == Seq(0, 1, 2), "NaN replaces NaN, -0.0 replaces 0.0")

    val binary = StructType(Seq(StructField("k", BinaryType), StructField("v", IntegerType)))
    store.write(frame(binary, Seq(Row(Array[Byte](1, 2), 0), Row(Array[Byte](3), 0))), "b", Seq("k"))
    store.merge("b", frame(binary, Seq(Row(Array[Byte](1, 2), 1))), Seq("k"))
    assert(vs("b") == Seq(0, 1), "a binary key replaces the stored key of equal content")

    val composite = StructType(Seq(StructField("a", LongType), StructField("b", StringType),
      StructField("v", IntegerType)))
    store.write(frame(composite, Seq(Row(1L, null, 0), Row(1L, "x", 0))), "c", Seq("a", "b"))
    store.merge("c", frame(composite, Seq(Row(1L, null, 1), Row(1L, "x", 2))), Seq("a", "b"))
    assert(vs("c") == Seq(0, 1, 2), "a key with a NULL part accumulates; a full key replaces")

    // a batch whose key type differs from the stored one would route by
    // another hash: refused rather than written to the wrong bucket
    val e = intercept[IllegalArgumentException](
      store.merge("d", Seq((5, 9)).toDF("k", "v"), Seq("k")))
    assert(e.getMessage.contains("key k is int in the batch but double in the store"), e.getMessage)
  }

  test("merge keeps the stored column order when the keys are not the leading columns") {
    val store = new BucketedStore(tmpDir("border"), numBuckets = 8)
    store.write((1L to 200L).map(k => (s"v$k", k, k * 2)).toDF("name", "id", "n"), "t", Seq("id"))
    store.merge("t", Seq(("FIVE", 5L, 0L)).toDF("name", "id", "n"), Seq("id"))
    // every bucket dir, rewritten or not, holds the same footer schema, so
    // reads agree without a merged-schema inference
    val dirs = manifestOf(store, "t", 1L).values.flatten.toSeq
    val footers = dirs.map(r => spark.read.parquet(s"${store.root}/t/$r").schema).distinct
    assert(footers.size == 1, footers)
    assert(store.read("t", Seq("id")).columns.toSeq == Seq("name", "id", "n"))
    assert(store.lookup("t", Seq("id"), Seq(5L)).as[(String, Long, Long)].collect().toSeq ==
      Seq(("FIVE", 5L, 0L)))
  }

  test("merge executes its batch once: a batch drawn anew on every execution writes the rows it checked") {
    val store = new BucketedStore(tmpDir("bonce"), numBuckets = 64)
    store.write((0L until 1000L).map(k => (k, "old")).toDF("id", "name"), "t", Seq("id"))
    // rand() is seeded when its column is built, so a re-run draws the same
    // keys; this draw differs on every execution of the batch's plan
    val draw = udf(() => scala.util.Random.nextInt(1000).toLong).asNondeterministic()
    (1 to 3).foreach { i =>
      val batch = spark.range(6).select(draw().as("id"), lit(s"new$i").as("name"))
        .dropDuplicates("id")
      val v = store.merge("t", batch, Seq("id"))
      val cur = store.read("t", Seq("id"))
      assert(cur.count() == 1000, s"v$v")
      assert(cur.select("id").distinct().count() == 1000)
      assert(cur.where(col("name") === s"new$i").count() >= 1)
      val referenced = manifestOf(store, "t", v).values.flatten.toSet
      val written = new java.io.File(s"${store.root}/t/files_v$v").listFiles().toSeq
        .filter(_.isDirectory)
        .filter(_.listFiles().exists(_.getName.startsWith("part-")))
        .map(d => s"files_v$v/${d.getName}")
      assert(written.nonEmpty && written.forall(referenced), s"v$v wrote $written, manifest $referenced")
    }
  }

  /** `before` minus its rows whose key (column `k`) is a non-NULL key of
    * `batch`, plus `batch`: the merge's answer, as sorted row strings. */
  private def upserted(before: Seq[org.apache.spark.sql.Row], batch: Seq[org.apache.spark.sql.Row],
      k: Int): Seq[String] = {
    val keys = batch.map(_.get(k)).filter(_ != null).toSet
    (before.filterNot(r => keys(r.get(k))) ++ batch).map(_.toString).sorted
  }

  /** The files and sidecars of version `v` of `feature` (keys `keys`,
    * `nb` buckets), rewritten on the driver for `batch`: one dir per
    * bucket the batch touches, each holding one `.snappy.parquet` part
    * file whose footer has the stored `columns` in order; the stats
    * sidecar, when `statCol` is tracked, is Spark's per-bucket min/max
    * over the version, NaN excluded; the Delta mirror replays to the
    * manifest's file set. */
  private def assertDriverWritten(store: BucketedStore, feature: String, v: Long,
      keys: Seq[String], nb: Int, batch: org.apache.spark.sql.DataFrame, columns: Seq[String],
      statCol: Option[String]): Unit = {
    val bucket = pmod(xxhash64(keys.map(col): _*), lit(nb)).cast("int")
    val manifest = manifestOf(store, feature, v)
    val rewritten = manifest.values.flatten.filter(_.startsWith(s"files_v$v/")).toSeq
    assert(rewritten.size == batch.select(bucket).distinct().count(), s"$feature v$v")
    rewritten.foreach { rel =>
      val parts = new java.io.File(s"${store.root}/$feature/$rel").listFiles().map(_.getName)
        .filter(_.startsWith("part-"))
      assert(parts.length == 1 && parts.head.endsWith(".snappy.parquet"), s"$rel: ${parts.toSeq}")
      assert(spark.read.parquet(s"${store.root}/$feature/$rel").schema.fieldNames.toSeq == columns, rel)
    }
    statCol.foreach { c =>
      val sidecar = scala.io.Source.fromFile(s"${store.root}/$feature/_graft_log/$v.stats.tsv")
        .getLines().filter(_.nonEmpty).map { l =>
          val Array(b, c, mn, mx) = l.split('\t'); (b.toInt, c) -> (mn.toDouble, mx.toDouble)
        }.toMap
      val clean = when(!isnan(col(c)), col(c))
      val want = store.read(feature, keys, Some(v)).withColumn("__b", bucket)
        .groupBy("__b").agg(min(clean), max(clean)).collect()
        .collect { case r if !r.isNullAt(1) => (r.getInt(0), c) -> (r.getDouble(1), r.getDouble(2)) }
        .toMap
      assert(sidecar == want, s"$feature v$v")
    }
    val live = manifest.values.flatten.toSeq.flatMap(rel =>
      new java.io.File(s"${store.root}/$feature/$rel").listFiles().map(_.getName)
        .filter(_.startsWith("part-")).map(n => s"$rel/$n")).toSet
    assert(store.deltaLiveFiles(feature)._1 == live, s"$feature v$v")
  }

  test("a row-sized merge rewrites its touched buckets on the driver, one part file each, with Spark's answer") {
    val store = new BucketedStore(tmpDir("bdriver"), numBuckets = 8)
    store.write((1L to 400L).map(i => (i, s"n$i", i * 0.5)).toDF("id", "name", "score"),
      "f", Seq("id"), statsCols = Seq("score"))
    def rows(v: Long) = store.read("f", Seq("id"), Some(v)).collect().toSeq
    def bucket(id: Long) = store.bucketOf(Seq(id), Seq(org.apache.spark.sql.types.LongType))
    // a junk part file where the next version's touched bucket goes, as a
    // crashed attempt would leave it
    val junkDir = new java.io.File(s"${store.root}/f/files_v1/__b=${bucket(7L)}")
    Seq((999999L, "junk", 0.0)).toDF("id", "name", "score").coalesce(1)
      .write.parquet(s"${store.root}/junk")
    junkDir.mkdirs()
    java.nio.file.Files.copy(new java.io.File(s"${store.root}/junk").listFiles()
      .find(_.getName.startsWith("part-")).get.toPath, new java.io.File(junkDir, "part-junk.parquet").toPath)

    val batches = Seq(
      Seq((Some(7L), "SEVEN", Double.NaN), (None, "nullkey", 1.0), (Some(1000L), "new", -3.0)),
      Seq((Some(8L), "EIGHT", 99.0), (None, "nullkey2", 2.0), (Some(7L), "seven", 7.5)))
      .map(_.toDF("id", "name", "score"))
    batches.zipWithIndex.foreach { case (batch, i) =>
      val before = rows(i.toLong)
      val (v, jobs) = jobsDuring(store.merge("f", batch, Seq("id")))
      assert(v == i + 1L && jobs == 0, s"v$v ran $jobs Spark jobs")
      assert(rows(v).map(_.toString).sorted == upserted(before, batch.collect().toSeq, 0), s"v$v")
      assertDriverWritten(store, "f", v, Seq("id"), 8, batch, Seq("id", "name", "score"), Some("score"))
    }
    assert(!junkDir.listFiles().exists(_.getName == "part-junk.parquet"), "the junk file is cleared")
    assert(store.read("f", Seq("id")).where(col("id") === 999999L).count() == 0)
    assert(store.read("f", Seq("id")).where(col("id").isNull).count() == 2, "NULL-key rows accumulate")
  }

  test("a schema-widening merge takes the Spark write with the same answer") {
    def sparkWrites(names: Seq[String]) = names.count(_.contains("parquet at BucketedStore"))
    val store = new BucketedStore(tmpDir("bsparkw"), numBuckets = 4)
    store.write((1L to 200L).map(i => (i, i.toDouble)).toDF("id", "v"), "w", Seq("id"))
    val before = store.read("w", Seq("id")).collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), null: String))
    val batch = Seq((5L, 5.5, "x"), (500L, 1.0, "y")).toDF("id", "v", "note")
    val (_, names) = jobNamesDuring(store.merge("w", batch, Seq("id")))
    assert(sparkWrites(names) == 1, names)
    val got = store.read("w", Seq("id")).select("id", "v", "note").collect().toSeq.map(_.toString).sorted
    assert(got == upserted(before.map(org.apache.spark.sql.Row.fromTuple(_)), batch.collect().toSeq, 0))
  }

  test("vacuum prunes a cursor slot once a newer slot has aged; the value stays and a young successor keeps its predecessor") {
    import org.apache.hadoop.fs.Path
    val store = new BucketedStore(tmpDir("bprune"), numBuckets = 4)
    (0 to 3).foreach(i => store.writeCursor("c", s"v$i"))
    val dir = new Path(s"${store.root}/_cursor/c")
    val hfs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def slots = hfs.listStatus(dir).map(_.getPath.getName).sorted.toSeq
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    Seq("0", "1", "2").foreach(n => hfs.setTimes(new Path(dir, n), old, old))
    // 0 and 1 have an aged successor; 2's successor 3 is young
    assert(store.reapCursorLocks().toSet == Set("_cursor/c/0", "_cursor/c/1"))
    assert(slots == Seq("2", "3") && store.readCursor("c").contains("v3"))
    // once 3 ages too, vacuum takes 2 and keeps the newest slot
    hfs.setTimes(new Path(dir, "3"), old, old)
    store.write(Seq((1L, "a")).toDF("id", "v"), "t", Seq("id"))
    store.vacuum("t", keepVersions = 1)
    assert(slots == Seq("3") && store.readCursor("c").contains("v3"))
    assert(store.reapCursorLocks().isEmpty, "the newest slot always stays")
    store.writeCursor("c", "v4")
    assert(store.readCursor("c").contains("v4") && slots == Seq("3", "4"))
  }

  /** The Spark path's answer to a mergeAdd of `batch` into the rows
    * `before` (keys `keys`, `nb` buckets) as sorted row strings of
    * `columns`: the rows of the buckets the batch touches and the batch,
    * grouped by key with every other column `sum(coalesce(c, 0))` cast to
    * its type; the other buckets' rows as they are. */
  private def sparkAdded(before: org.apache.spark.sql.DataFrame, batch: org.apache.spark.sql.DataFrame,
      keys: Seq[String], nb: Int, columns: Seq[String]): Seq[String] = {
    val bucket = pmod(xxhash64(keys.map(col): _*), lit(nb)).cast("int")
    val touched = batch.select(bucket).distinct().as[Int].collect().toSeq
    val all = before.where(bucket.isin(touched: _*)).unionByName(batch, allowMissingColumns = true)
    val sums = all.schema.fields.filterNot(f => keys.contains(f.name)).map(f =>
      sum(coalesce(col(f.name), lit(0))).cast(f.dataType).as(f.name))
    all.groupBy(keys.map(col): _*).agg(sums.head, sums.tail.toSeq: _*)
      .unionByName(before.where(!bucket.isin(touched: _*)), allowMissingColumns = true)
      .select(columns.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  test("a row-sized mergeAdd sums its touched buckets on the driver, one part file each, with Spark's answer") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val store = new BucketedStore(tmpDir("baddrv"), numBuckets = 8)
    val schema = StructType(Seq(StructField("id", LongType), StructField("n", LongType),
      StructField("s", DoubleType)))
    // first made by write(): key 1 is stored twice, and one key is NULL
    store.write(frame(schema, (1L to 300L).map(i => Row(i, i, i * 0.5)) ++
      Seq(Row(1L, 10L, 0.25), Row(null, 1L, 1.0))), "f", Seq("id"), statsCols = Seq("s"))
    val batches = Seq(
      Seq(Row(1L, 1L, 0.5), Row(5L, 2L, 1.0), Row(5L, 3L, 2.0), Row(null, 1L, 1.5),
        Row(null, 2L, 2.0), Row(1000L, 4L, -3.0), Row(7L, 1L, Double.NaN)),
      Seq(Row(8L, 1L, 99.0), Row(null, 1L, 1.0), Row(1000L, 1L, 1.0)))
      .map(frame(schema, _))
    val cols = Seq("id", "n", "s")
    batches.zipWithIndex.foreach { case (batch, i) =>
      val before = store.read("f", Seq("id"), Some(i.toLong))
      val want = sparkAdded(before, batch, Seq("id"), 8, cols)
      val (v, jobs) = jobsDuring(store.mergeAdd("f", batch, Seq("id")))
      assert(v == i + 1L && jobs == 0, s"v$v ran $jobs Spark jobs")
      assert(store.read("f", Seq("id"), Some(v)).select(cols.map(col): _*).collect()
        .map(_.toString).sorted.toSeq == want, s"v$v")
      assertDriverWritten(store, "f", v, Seq("id"), 8, batch, cols, Some("s"))
    }
    val cur = store.read("f", Seq("id"))
    assert(cur.where(col("id").isNull).select("n").as[Long].collect().toSeq == Seq(5L),
      "NULL keys add as one group")
    assert(cur.where(col("id") === 1L).select("n", "s").as[(Long, Double)].collect().toSeq ==
      Seq((12L, 1.25)), "the stored duplicate folds with the batch's add")
    assert(cur.where(col("id") === 5L).select("n").as[Long].collect().toSeq == Seq(10L),
      "in-batch duplicates are summed")

    // Double keys group as Spark groups them: NaN = NaN, 0.0 = -0.0
    val dbl = StructType(Seq(StructField("k", DoubleType), StructField("n", LongType)))
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    store.write(frame(dbl, Seq(Row(Double.NaN, 1L), Row(0.0, 1L), Row(5.0, 1L))), "d", Seq("k"))
    val dBatch = frame(dbl, Seq(Row(otherNaN, 2L), Row(-0.0, 3L), Row(Double.NaN, 4L)))
    val dWant = sparkAdded(store.read("d", Seq("k")), dBatch, Seq("k"), 8, Seq("k", "n"))
    val (dv, dJobs) = jobsDuring(store.mergeAdd("d", dBatch, Seq("k")))
    assert(dJobs == 0, s"$dJobs Spark jobs")
    val dGot = store.read("d", Seq("k")).collect().map(_.toString).sorted.toSeq
    assert(dGot == dWant && dGot == Seq("[0.0,4]", "[5.0,1]", "[NaN,7]"), dGot)
    assertDriverWritten(store, "d", dv, Seq("k"), 8, dBatch, Seq("k", "n"), None)

    // a Long sum past Long.MaxValue fails under ANSI and commits no version;
    // the next add clears what the failed attempt left
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      store.write(Seq((1L, Long.MaxValue - 1), (2L, 5L)).toDF("id", "n"), "o", Seq("id"))
      val e = intercept[Exception](store.mergeAdd("o", Seq((1L, 5L)).toDF("id", "n"), Seq("id")))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e)
      assert(store.versions("o") == Seq(0L), "a failed add commits no version")
      assert(store.mergeAdd("o", Seq((1L, -5L), (2L, 1L)).toDF("id", "n"), Seq("id")) == 1L)
      assert(store.read("o", Seq("id")).as[(Long, Long)].collect().toSet ==
        Set((1L, Long.MaxValue - 6), (2L, 6L)))
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("mergeAdd refuses a batch key of another type than the stored key") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val store = new BucketedStore(tmpDir("baddkey"), numBuckets = 8)
    store.mergeAdd("p", (0L until 100L).map(k => (k, 1L)).toDF("token", "n"), Seq("token"))
    store.mergeAdd("p", Seq((1L, 1L)).toDF("token", "n"), Seq("token"))
    // an Int key hashes as an int: it routes to another bucket than the Long key
    val k = (0 until 100).find(i =>
      store.bucketOf(Seq(i), Seq(IntegerType)) != store.bucketOf(Seq(i.toLong), Seq(LongType))).get
    val e = intercept[IllegalArgumentException](
      store.mergeAdd("p", Seq((k, 5L)).toDF("token", "n"), Seq("token")))
    assert(e.getMessage.contains("key token is int in the batch but bigint in the store"), e.getMessage)
    assert(store.versions("p") == Seq(0L, 1L))
    assert(store.read("p", Seq("token")).where(col("token") === k).select("n").as[Long]
      .collect().toSeq == Seq(1L))
  }

  test("a one-row local mergeAdd runs no Spark job") {
    val store = new BucketedStore(tmpDir("badd1"), numBuckets = 16)
    store.mergeAdd("p", (0L until 500L).map(k => (k, 1L)).toDF("token", "n"), Seq("token"))
    val (v, jobs) = jobsDuring(store.mergeAdd("p", Seq((42L, 2L)).toDF("token", "n"), Seq("token")))
    assert(v == 1L && jobs == 0, s"v$v ran $jobs Spark jobs")
    assert(store.lookup("p", Seq("token"), Seq(42L)).select("n").as[Long].collect().toSeq == Seq(3L))
    assert(store.read("p", Seq("token")).count() == 500)
  }

  test("a schema-widening mergeAdd takes the Spark write with the same answer") {
    val store = new BucketedStore(tmpDir("baddw"), numBuckets = 4)
    store.write((1L to 200L).map(i => (i, i)).toDF("id", "n"), "w", Seq("id"))
    val before = store.read("w", Seq("id"))
    // one extra additive column
    val batch = Seq((5L, 2L, 1L), (5L, 1L, 2L), (500L, 1L, 7L)).toDF("id", "n", "m")
    val want = sparkAdded(before, batch, Seq("id"), 4, Seq("id", "n", "m"))
    val (v, names) = jobNamesDuring(store.mergeAdd("w", batch, Seq("id")))
    // the batch is collected from its local relation with no job and not
    // persisted: the only jobs are the write's exchange and its file write
    assert(v == 1L && names.nonEmpty && names.size <= 2 && !names.exists(_.contains("collect at")),
      names)
    assert(store.read("w", Seq("id")).select("id", "n", "m").collect().map(_.toString).sorted.toSeq == want)
  }
}
