package graft.streaming

import graft.SparkSpec
import graft.core.{BucketedStore, FeatureDef}
import org.apache.spark.sql.functions._

class FastlaneSpec extends SparkSpec {
  import spark.implicits._

  private val feature = FeatureDef(
    name = "user_value_sum",
    entityKeys = Seq("user_id"),
    codeVersion = "v1",
    transform = df => df.groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
        count(lit(1)).as("n")))

  /** Run `rerun` so that Spark re-executes the last committed batch of
    * the checkpoint `ckpt`: its `commits/<id>` entry is deleted first, so
    * the restarted query replays batch <id> from the logged offsets (the
    * same batchId over the same rows) — a real replay, which a bare re-run
    * with no new input is not (the commit log alone would skip it). */
  private def replayLastBatch(ckpt: String)(rerun: => Unit): Unit = {
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
    rerun
    assert(new java.io.File(commits, last.toString).exists(),
      s"batch $last of $ckpt was not re-executed")
  }

  /** The stored rows of a BM25 index's postings, termdf and stats tables. */
  private def bm25Tables(store: graft.core.BucketedStore, feature: String) =
    Seq("postings" -> "term", "termdf" -> "term", "stats" -> "__sk").map {
      case (t, key) => store.read(s"${feature}_$t", Seq(key)).collect()
        .map(_.toString).sorted.toSeq
    }

  test("fastlane stream: micro-batches upsert into the feature store") {
    val root = tmpDir("fastlane")
    val store = new BucketedStore(root, numBuckets = 16)
    val srcDir = tmpDir("fastlane_src")

    // batch 1 lands before the stream starts (AvailableNow drains it)
    Seq((1L, 10.0), (2L, 5.0), (1L, 2.5)).toDF("user_id", "value")
      .write.mode("overwrite").json(s"$srcDir/b1")

    val stream = spark.readStream
      .schema("user_id LONG, value DOUBLE")
      .json(s"$srcDir/*")
    val q = Fastlane.serveBucketed(feature, stream, store, tmpDir("fastlane_ckpt"))
    q.awaitTermination(60000)

    val out = store.read(feature.name, feature.entityKeys)
      .select("user_id", "sum_value").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 12.5, 2L -> 5.0))

    // fastlane single-row path: upsert user 2
    Fastlane.serveOnceBucketed(feature, Seq((2L, 100.0)).toDF("user_id", "value"), store)
    val out2 = store.read(feature.name, feature.entityKeys)
      .select("user_id", "sum_value").as[(Long, Double)].collect().toMap
    assert(out2 == Map(1L -> 12.5, 2L -> 100.0))
    // history preserved: pre-upsert version still readable (time travel)
    assert(store.versions(feature.name).size >= 2)
    // a NULL entity key never matches a stored row: served twice, the
    // NULL-key row accumulates instead of being replaced
    val nullKey = Seq((0L, 7.0)).toDF("user_id", "value")
      .withColumn("user_id", lit(null).cast("long"))
    Fastlane.serveOnceBucketed(feature, nullKey, store)
    Fastlane.serveOnceBucketed(feature, nullKey, store)
    assert(store.read(feature.name, feature.entityKeys).where(col("user_id").isNull).count() == 2)
  }

  test("ingestDeduped: streaming near-dup gate admits only novel docs across batches") {
    val corpusDir = tmpDir("ing_corpus") + "/c"
    val profileDir = tmpDir("ing_prof") + "/p"
    val srcDir = tmpDir("ing_src")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val other = "one two three four five six seven eight nine ten eleven twelve"

    // batch 1: two distinct docs plus an intra-batch near-dup of doc 1
    Seq((1L, base), (2L, other), (3L, base + " nu"))
      .toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b1")
    val stream1 = spark.readStream.schema("doc_id LONG, text STRING").json(s"$srcDir/*")
    val ckpt = tmpDir("ing_ckpt")
    Fastlane.ingestDeduped(stream1, "doc_id", "text", corpusDir, profileDir,
      ckpt, threshold = 0.5).awaitTermination(60000)
    val after1 = spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().toSet
    assert(after1 == Set(1L, 2L), s"intra-batch near-dup not collapsed: $after1")

    // batch 2: a near-dup of admitted doc 1, and a genuinely new doc
    Seq((4L, base + " xi"), (5L, "completely different words about spark engines at scale here"))
      .toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b2")
    val stream2 = spark.readStream.schema("doc_id LONG, text STRING").json(s"$srcDir/*")
    Fastlane.ingestDeduped(stream2, "doc_id", "text", corpusDir, profileDir,
      ckpt, threshold = 0.5).awaitTermination(60000)
    val after2 = spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().toSet
    assert(after2 == Set(1L, 2L, 5L), s"cross-batch near-dup admitted: $after2")
    // the profile store tracks exactly the admitted corpus (no re-shingling
    // of history: one profile row per admitted doc)
    val profIds = spark.read.parquet(profileDir).select("doc_id").as[Long].collect().toSet
    assert(profIds == after2)
  }

  test("ingestDedupedIndexed: index-backed gate matches the scan-backed gate across batches") {
    val corpusDir = tmpDir("ingx_corpus") + "/c"
    val srcDir = tmpDir("ingx_src")
    val store = new graft.core.BucketedStore(tmpDir("ingx_idx"), numBuckets = 16)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val other = "one two three four five six seven eight nine ten eleven twelve"

    Seq((1L, base), (2L, other), (3L, base + " nu"))
      .toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b1")
    val ckpt = tmpDir("ingx_ckpt")
    Fastlane.ingestDedupedIndexed(
      spark.readStream.schema("doc_id LONG, text STRING").json(s"$srcDir/*"),
      "doc_id", "text", store, "corpus", corpusDir, ckpt, threshold = 0.5)
      .awaitTermination(60000)
    assert(spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L))

    Seq((4L, base + " xi"), (5L, "completely different words about spark engines at scale here"))
      .toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b2")
    // compactEvery = 1: this batch (batchId 1) also folds the append dirs —
    // the gate's answers must be unaffected by mid-stream maintenance
    Fastlane.ingestDedupedIndexed(
      spark.readStream.schema("doc_id LONG, text STRING").json(s"$srcDir/*"),
      "doc_id", "text", store, "corpus", corpusDir, ckpt, threshold = 0.5,
      compactEvery = 1)
      .awaitTermination(60000)
    assert(spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L, 5L), "cross-batch near-dup must be rejected via the index")
    // the index grew with the admitted history (bands table holds 3 docs)
    val indexed = store.read("corpus_bands", Seq("band_key"))
      .select("corpus_id").distinct().as[Long].collect().toSet
    assert(indexed == Set(1L, 2L, 5L))
  }

  test("ingestBm25Indexed: stream-grown postings index == one-batch build over the union") {
    import graft.ops.TextOps
    val srcDir = tmpDir("bm25s_src")
    val corpusDir = tmpDir("bm25s_corpus") + "/c"
    val store = new graft.core.BucketedStore(tmpDir("bm25s_idx"), numBuckets = 8)
    val ckpt = tmpDir("bm25s_ckpt")
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").json(s"$srcDir/*")
    val b1 = Seq((1L, "the quick brown fox"), (2L, "lazy dogs sleep all day"))
    val b2 = Seq((3L, "quick dogs chase the fox"), (4L, "brown bears eat honey"))
    b1.toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestBm25Indexed(stream(), "doc_id", "text", store, "bm",
      corpusDir, ckpt).awaitTermination(60000)
    b2.toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b2")
    // compactEvery=1: the second batch also exercises the maintenance fold
    Fastlane.ingestBm25Indexed(stream(), "doc_id", "text", store, "bm",
      corpusDir, ckpt, compactEvery = 1).awaitTermination(60000)
    val queries = Seq((10L, "quick fox"), (11L, "brown honey"))
      .toDF("query_id", "qtext")
    def rows(st: graft.core.BucketedStore) =
      TextOps.searchIndexedBm25(queries, "query_id", "qtext", st, "bm", k = 3)
        .select("query_id", "doc_id", "bm25_micro", "rank")
        .as[(Long, Long, Long, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val streamed = rows(store)
    val rebuilt = new graft.core.BucketedStore(tmpDir("bm25s_rebuild"), numBuckets = 8)
    TextOps.indexBm25((b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text",
      rebuilt, "bm")
    assert(streamed.nonEmpty && streamed == rows(rebuilt),
      "stream-grown index must answer identically to a one-batch build")
    // and identically to the in-memory route over the accumulated corpus
    val direct = TextOps.bm25TopK(spark.read.parquet(corpusDir), "doc_id", "text",
        queries, "query_id", "qtext", 3)
      .select("query_id", "doc_id", "bm25_micro", "rank")
      .as[(Long, Long, Long, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(streamed == direct)
    // a FRESH checkpoint resets the lineage-scoped replay fence: new
    // batches must be INGESTED, not silently dropped by the old cursor
    // (batchIds restart at 0 under a new checkpoint; re-reading earlier
    // files under the new lineage is the documented at-least-once residual)
    Seq((5L, "honey badgers dig dens"))
      .toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b3")
    val ckpt2 = tmpDir("bm25s_ckpt2")
    Fastlane.ingestBm25Indexed(stream(), "doc_id", "text", store, "bm",
      corpusDir, ckpt2).awaitTermination(60000)
    assert(store.read("bm_postings", Seq("term"))
      .where(col("doc_id") === 5L).count() > 0,
      "fresh-lineage batch was silently dropped by the replay fence")
    // a forced replay of the fresh lineage's batch is fenced out: the
    // postings, termdf and stats tables do not grow again
    val grown = bm25Tables(store, "bm")
    replayLastBatch(ckpt2) {
      Fastlane.ingestBm25Indexed(stream(), "doc_id", "text", store, "bm",
        corpusDir, ckpt2).awaitTermination(60000)
    }
    assert(bm25Tables(store, "bm") == grown, "a replayed batch must not re-grow the index")
  }

  test("BM25 ingest: per-lineage fences are independent; bm25IndexConsistency flags a double-grown index") {
    import graft.ops.TextOps
    val srcDir = tmpDir("bmL_src")
    val corpusDir = tmpDir("bmL_corpus") + "/c"
    val store = new graft.core.BucketedStore(tmpDir("bmL_idx"), numBuckets = 8)
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").json(s"$srcDir/*")
    Seq((1L, "aa bb cc"), (2L, "bb cc dd"))
      .toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b1")
    val ckA = tmpDir("bmL_ckA"); val ckB = tmpDir("bmL_ckB")
    Fastlane.ingestBm25Indexed(stream(), "doc_id", "text", store, "bm",
      corpusDir, ckA).awaitTermination(60000)
    // one lineage, one apply: the audit detector reads consistent
    val ok = Fastlane.bm25IndexConsistency(store, "bm", corpusDir, "doc_id").head()
    assert(ok.getBoolean(3), s"freshly built index must audit consistent: $ok")
    // a SECOND lineage over the same source re-applies batch 0 — the
    // documented double-apply operator error (new lineage, fence = -1)
    Fastlane.ingestBm25Indexed(stream(), "doc_id", "text", store, "bm",
      corpusDir, ckB).awaitTermination(60000)
    val bad = Fastlane.bm25IndexConsistency(store, "bm", corpusDir, "doc_id").head()
    assert(!bad.getBoolean(3), "double-grown index must audit INCONSISTENT")
    assert(bad.getLong(0) == 4L && bad.getLong(2) == 2L,
      s"stats.n_docs doubled vs distinct corpus ids: $bad")
    // each lineage keeps its own fence: B's run did not reset A's, so a
    // forced replay of A's last batch leaves the index as it is
    def replay(ck: String) = replayLastBatch(ck) {
      Fastlane.ingestBm25Indexed(stream(), "doc_id", "text", store, "bm",
        corpusDir, ck).awaitTermination(60000)
    }
    val afterB = bm25Tables(store, "bm")
    replay(ckA)
    assert(bm25Tables(store, "bm") == afterB,
      "a replay of lineage A's batch after lineage B ran must be fenced out")
    replay(ckB)
    assert(bm25Tables(store, "bm") == afterB,
      "a replay of lineage B's batch must be fenced out")
    // lineage A continues with a new batch, which its fence admits
    Seq((3L, "dd ee ff")).toDF("doc_id", "text")
      .write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestBm25Indexed(stream(), "doc_id", "text", store, "bm",
      corpusDir, ckA).awaitTermination(60000)
    assert(store.read("bm_postings", Seq("term")).where(col("doc_id") === 3L)
      .count() == 3L, "lineage A's new batch must be applied once")
    // the trio commit record pins the reader to the last COMPLETE append
    val trio = store.readCursor("bm_bm25_trio")
    assert(trio.isDefined, "writers must publish the trio commit record")
    val Array(pv, tv, sv) = trio.get.trim.split('\t').map(_.toLong)
    assert(pv == store.latestVersion("bm_postings").get)
    assert(tv == store.latestVersion("bm_termdf").get)
    assert(sv == store.latestVersion("bm_stats").get)
    // a search through the pinned trio still answers (doubled stats are the
    // detector's job — the snapshot itself is coherent)
    val hits = TextOps.searchIndexedBm25(
      Seq((9L, "dd")).toDF("query_id", "qtext"), "query_id", "qtext",
      store, "bm", k = 5)
    assert(hits.count() > 0)
  }

  test("ingestEmbeddingProfile: stream-grown profile bit-identical to one-shot; profile-served drift == direct; replay fenced") {
    import graft.ops.Similarity
    val srcDir = tmpDir("eprof_src")
    val store = new graft.core.BucketedStore(tmpDir("eprof_store"), numBuckets = 8)
    val ckpt = tmpDir("eprof_ckpt")
    def stream() = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(s"$srcDir/*")
    def vec(xs: (Int, Float)*) = (0 until 64).map(i => xs.toMap.getOrElse(i, 0.0f))
    val b1 = Seq((0L, vec(5 -> 0.1f)), (1L, vec(5 -> -0.1f, 7 -> 0.2f)))
    val b2 = Seq((2L, vec(5 -> 0.3f)), (3L, vec(5 -> -0.3f, 3 -> -0.05f)))
    b1.toDF("vec_id", "embedding").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestEmbeddingProfile(stream(), "embedding", store, "eprof", ckpt)
      .awaitTermination(60000)
    b2.toDF("vec_id", "embedding").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestEmbeddingProfile(stream(), "embedding", store, "eprof", ckpt)
      .awaitTermination(60000)
    def storedRows() = store.read("eprof", Seq("pos", "bin"))
      .select("pos", "bin", "n", "s")
      .as[(Int, Long, Long, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("vec_id", "embedding")
    val oneShot = Similarity.embeddingProfile(union, "embedding")
      .select("pos", "bin", "n", "s")
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot profile")
    // the Σn == dim·vectors audit invariant
    assert(grown.toSeq.map(_._3).sum == 64L * 4)
    // profile-served monitors answer identically to the direct ops over
    // the corpora the profiles summarize
    val ref = Seq((9L, vec()), (10L, vec(5 -> 0.05f))).toDF("vec_id", "embedding")
    val refProf = Similarity.embeddingProfile(ref, "embedding")
    val stored = store.read("eprof", Seq("pos", "bin"))
    val meanServed = Similarity.embeddingDriftFromProfiles(stored, refProf)
      .orderBy("rank").collect().toSeq
    val meanDirect = Similarity.embeddingDrift(union, ref, "embedding")
      .orderBy("rank").collect().toSeq
    assert(meanServed.nonEmpty && meanServed == meanDirect,
      "profile-served mean drift must equal the direct route")
    val shapeServed = Similarity.embeddingShapeDriftFromProfiles(stored, refProf)
      .orderBy("rank").collect().toSeq
    val shapeDirect = Similarity.embeddingShapeDrift(union, ref, "embedding")
      .orderBy("rank").collect().toSeq
    assert(shapeServed.nonEmpty && shapeServed == shapeDirect,
      "profile-served shape drift must equal the direct route")
    // a REPLAYED last batch under the same checkpoint lineage is fenced out —
    // adds are not idempotent, so this is the double-count hole the
    // lineage's fence record closes
    replayLastBatch(ckpt) {
      Fastlane.ingestEmbeddingProfile(stream(), "embedding", store, "eprof", ckpt)
        .awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
  }

  test("ingestTokenProfile: stream-grown vocab profile bit-identical to one-shot; profile-served tokenDrift == direct; replay fenced") {
    import graft.ops.TextOps
    val srcDir = tmpDir("tprof_src")
    val store = new graft.core.BucketedStore(tmpDir("tprof_store"), numBuckets = 8)
    val ckpt = tmpDir("tprof_ckpt")
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").json(s"$srcDir/*")
    val b1 = Seq((1L, "x x y"), (2L, "y z top"))
    val b2 = Seq((3L, "z z w x"), (4L, "top w"))
    b1.toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestTokenProfile(stream(), "text", store, "tprof", ckpt)
      .awaitTermination(60000)
    b2.toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestTokenProfile(stream(), "text", store, "tprof", ckpt)
      .awaitTermination(60000)
    def storedRows() = store.read("tprof", Seq("token"))
      .select("token", "n").as[(String, Long)].collect().toSet
    val grown = storedRows()
    // the lineage's fence is one cursor record holding the last applied
    // batch id; no fence feature or directory is written into the store
    assert(store.readCursor(store.cursorName("fence", "tprof", ckpt)).contains("1"))
    assert(store.versions("tprof_ingest_cursor").isEmpty &&
      !new java.io.File(s"${store.root}/tprof_ingest_cursor").exists(),
      "the fence must not be a store feature")
    val union = (b1 ++ b2).toDF("doc_id", "text")
    val oneShot = TextOps.tokenProfile(union, "text")
      .as[(String, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot count")
    // Σn == total tokens ingested — the cheap audit invariant
    assert(grown.toSeq.map(_._2).sum == 12L)
    // profile-served drift answers identically to the direct route over
    // the corpora the profiles summarize
    val ref = Seq((9L, "y y z")).toDF("doc_id", "text")
    val served = TextOps.tokenDriftFromProfiles(
        store.read("tprof", Seq("token")), TextOps.tokenProfile(ref, "text"), topM = 10)
      .orderBy("rank").collect().toSeq
    val direct = TextOps.tokenDrift(union, ref, "text", topM = 10)
      .orderBy("rank").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served token drift must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt) {
      Fastlane.ingestTokenProfile(stream(), "text", store, "tprof", ckpt)
        .awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
  }

  test("ingestTokenProfile: a steady-state micro-batch sums into its touched buckets on the driver, one part file each") {
    val srcDir = tmpDir("tjobs_src")
    val store = new graft.core.BucketedStore(tmpDir("tjobs_store"), numBuckets = 8)
    val ckpt = tmpDir("tjobs_ckpt")
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").json(s"$srcDir/*")
    Seq((1L, "x x y"), (2L, "y z top")).toDF("doc_id", "text")
      .write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestTokenProfile(stream(), "text", store, "tprof", ckpt)
      .awaitTermination(60000)
    Seq((3L, "z z w x"), (4L, "top w")).toDF("doc_id", "text")
      .write.mode("overwrite").json(s"$srcDir/b2")
    val (_, names) = jobNamesDuring(
      Fastlane.ingestTokenProfile(stream(), "text", store, "tprof", ckpt).awaitTermination(60000))
    // the batch's emptiness check and its profile's exchange and collect;
    // the store runs no job of its own
    assert(names.size <= 3, names)
    assert(store.versions("tprof") == Seq(0L, 1L))
    val dirs = new java.io.File(s"${store.root}/tprof/files_v1").listFiles().filter(_.isDirectory)
    assert(dirs.nonEmpty && dirs.forall(_.listFiles().count(_.getName.startsWith("part-")) == 1),
      dirs.map(d => d.getName -> d.list().toSeq).toSeq)
  }

  test("ingestNumericProfile: stream-grown scalar profile bit-identical to one-shot; profile-served drift == direct; replay fenced") {
    import graft.ops.Stats
    val srcDir = tmpDir("nprof_src")
    val store = new graft.core.BucketedStore(tmpDir("nprof_store"), numBuckets = 8)
    val ckpt = tmpDir("nprof_ckpt")
    def stream() = spark.readStream.schema("v DOUBLE").json(s"$srcDir/*")
    val b1 = Seq(0.0, 10.0, 40.0)
    val b2 = Seq(10.0, 40.0, 40.0, 90.0)
    b1.toDF("v").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestNumericProfile(stream(), "v", store, "nprof", ckpt)
      .awaitTermination(60000)
    b2.toDF("v").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestNumericProfile(stream(), "v", store, "nprof", ckpt)
      .awaitTermination(60000)
    def storedRows() = store.read("nprof", Seq("bin"))
      .select("bin", "n").as[(Long, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("v")
    val oneShot = Stats.numericProfile(union, "v")
      .as[(Long, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot count")
    assert(grown.toSeq.map(_._2).sum == 7L) // Σn == values ingested
    // profile-served drift answers identically to the direct route
    val ref = Seq(5.0, 5.0, 70.0).toDF("v")
    val served = Stats.numericShapeDriftFromProfiles(
        store.read("nprof", Seq("bin")), Stats.numericProfile(ref, "v"))
      .orderBy("rank").collect().toSeq
    val direct = Stats.numericShapeDrift(union, ref, "v")
      .orderBy("rank").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served scalar drift must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt) {
      Fastlane.ingestNumericProfile(stream(), "v", store, "nprof", ckpt)
        .awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
  }

  test("ingestNumericProfileByGroup: stream-grown segmented scalar profile bit-identical to one-shot; per-group drift served from storage == direct; replay fenced") {
    import graft.ops.Stats
    val srcDir = tmpDir("gnprof_src")
    val store = new graft.core.BucketedStore(tmpDir("gnprof_store"), numBuckets = 8)
    val ckpt = tmpDir("gnprof_ckpt")
    def stream() = spark.readStream
      .schema("g STRING, v DOUBLE").json(s"$srcDir/*")
    val b1 = Seq(("s1", 0.0), ("s1", 10.0), ("s2", 40.0))
    val b2 = Seq(("s1", 40.0), ("s2", 40.0), ("s2", 90.0), ("s3", 5.0))
    b1.toDF("g", "v").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestNumericProfileByGroup(stream(), "v", "g", store,
      "gnprof", ckpt).awaitTermination(60000)
    b2.toDF("g", "v").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestNumericProfileByGroup(stream(), "v", "g", store,
      "gnprof", ckpt).awaitTermination(60000)
    def storedRows() = store.read("gnprof", Seq("g", "bin"))
      .select("g", "bin", "n").as[(String, Long, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("g", "v")
    val oneShot = Stats.numericProfileByGroup(union, "v", "g")
      .as[(String, Long, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot segmented count")
    assert(grown.toSeq.map(_._3).sum == 7L, "Σn == values ingested")
    // the per-source dashboard read: drift served from the STORED profile
    // equals the direct two-corpus scan
    val ref = Seq(("s1", 5.0), ("s1", 70.0), ("s2", 40.0), ("s4", 1.0))
      .toDF("g", "v")
    val served = Stats.numericShapeDriftByGroupFromProfiles(
        store.read("gnprof", Seq("g", "bin")),
        Stats.numericProfileByGroup(ref, "v", "g"), "g")
      .orderBy("g", "rank").collect().toSeq
    val direct = Stats.numericShapeDriftByGroup(union, ref, "v", "g")
      .orderBy("g", "rank").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served per-group scalar drift must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt) {
      Fastlane.ingestNumericProfileByGroup(stream(), "v", "g", store,
        "gnprof", ckpt).awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
    // the maintenance cadence: compaction folds per-batch merge dirs back
    // without changing the profile
    store.compactBuckets("gnprof", Seq("g", "bin"))
    assert(storedRows() == grown, "compaction must be answer-stable")
  }

  test("ingestBucketCategoryProfile: stream-grown timeline bit-identical to one-shot; profile-served timeline == direct; late events fold into their true bucket; replay fenced") {
    import graft.ops.Events
    val srcDir = tmpDir("cdt_src")
    val store = new graft.core.BucketedStore(tmpDir("cdt_store"), numBuckets = 8)
    val ckpt = tmpDir("cdt_ckpt")
    def stream() = spark.readStream
      .schema("ts TIMESTAMP, cat STRING").json(s"$srcDir/*")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq((t("2024-01-01 10:00:00"), "a"), (t("2024-01-01 10:20:00"), "a"),
      (t("2024-01-01 11:05:00"), "b"))
    // b2 carries a LATE event for the 10:00 bucket — it must fold into
    // its true bucket, not a new one
    val b2 = Seq((t("2024-01-01 11:30:00"), "b"), (t("2024-01-01 10:59:00"), "b"))
    b1.toDF("ts", "cat").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestBucketCategoryProfile(stream(), "cat", "ts", 3600L,
      store, "cdt", ckpt).awaitTermination(60000)
    b2.toDF("ts", "cat").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestBucketCategoryProfile(stream(), "cat", "ts", 3600L,
      store, "cdt", ckpt).awaitTermination(60000)
    def storedRows() = store.read("cdt", Seq("bucket_start", "cat"))
      .select("bucket_start", "cat", "n").as[(Long, String, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("ts", "cat")
    val oneShot = Events.bucketCategoryProfile(union, "cat", "ts", 3600L)
      .as[(Long, String, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot count")
    // exactly two buckets — the late event folded back into 10:00's
    assert(grown.size == 3 && grown.map(_._1).size == 2, s"got $grown")
    assert(grown.toSeq.map(_._3).sum == 5L) // Σn == events ingested
    // profile-served timeline answers identically to the direct route
    val ref = Seq(("a", 1L), ("b", 1L)).toDF("cat", "n")
    val served = Events.categoryDriftTimelineFromProfiles(
        store.read("cdt", Seq("bucket_start", "cat")), ref, "cat")
      .orderBy("bucket_start").collect().toSeq
    val direct = Events.categoryDriftTimeline(union, "cat", "ts", ref, 3600L)
      .orderBy("bucket_start").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served timeline must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt) {
      Fastlane.ingestBucketCategoryProfile(stream(), "cat", "ts", 3600L,
        store, "cdt", ckpt).awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
  }

  test("ingestBucketCategoryProfileByGroup: stream-grown segmented timeline bit-identical to one-shot; per-group served timeline == direct; replay fenced") {
    import graft.ops.Events
    val srcDir = tmpDir("gcdt_src")
    val store = new graft.core.BucketedStore(tmpDir("gcdt_store"), numBuckets = 8)
    val ckpt = tmpDir("gcdt_ckpt")
    def stream() = spark.readStream
      .schema("g STRING, ts TIMESTAMP, cat STRING").json(s"$srcDir/*")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(("s1", t("2024-01-01 10:00:00"), "a"),
      ("s1", t("2024-01-01 10:20:00"), "a"), ("s2", t("2024-01-01 10:30:00"), "q"))
    // b2 carries a LATE event for s1's 10:00 bucket
    val b2 = Seq(("s1", t("2024-01-01 11:05:00"), "b"),
      ("s1", t("2024-01-01 10:59:00"), "b"), ("s2", t("2024-01-01 11:10:00"), "r"))
    b1.toDF("g", "ts", "cat").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestBucketCategoryProfileByGroup(stream(), "cat", "ts", "g",
      3600L, store, "gcdt", ckpt).awaitTermination(60000)
    b2.toDF("g", "ts", "cat").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestBucketCategoryProfileByGroup(stream(), "cat", "ts", "g",
      3600L, store, "gcdt", ckpt).awaitTermination(60000)
    def storedRows() = store.read("gcdt", Seq("g", "bucket_start", "cat"))
      .select("g", "bucket_start", "cat", "n")
      .as[(String, Long, String, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("g", "ts", "cat")
    val oneShot = Events.bucketCategoryProfileByGroup(union, "cat", "ts", "g", 3600L)
      .as[(String, Long, String, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot segmented count")
    assert(grown.toSeq.map(_._4).sum == 6L) // Σn == events ingested
    // per-group served timeline answers identically to the direct route
    val ref = Seq(("s1", "a", 1L), ("s1", "b", 1L),
      ("s2", "q", 1L), ("s2", "r", 1L)).toDF("g", "cat", "n")
    val served = Events.categoryDriftTimelineByGroupFromProfiles(
        store.read("gcdt", Seq("g", "bucket_start", "cat")), ref, "cat", "g")
      .orderBy("g", "bucket_start").collect().toSeq
    val direct = Events.categoryDriftTimelineByGroup(union, "cat", "ts", "g",
        ref, 3600L)
      .orderBy("g", "bucket_start").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served segmented timeline must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt) {
      Fastlane.ingestBucketCategoryProfileByGroup(stream(), "cat", "ts", "g",
        3600L, store, "gcdt", ckpt).awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
  }

  test("ingestBucketNumericProfile: stream-grown numeric timeline bit-identical to one-shot; profile-served timeline == direct; late values fold into their true bucket; replay fenced") {
    import graft.ops.{Events, Stats}
    val srcDir = tmpDir("bnp_src")
    val store = new graft.core.BucketedStore(tmpDir("bnp_store"), numBuckets = 8)
    val ckpt = tmpDir("bnp_ckpt")
    def stream() = spark.readStream
      .schema("ts TIMESTAMP, v DOUBLE").json(s"$srcDir/*")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq((t("2024-01-01 10:00:00"), 10.0), (t("2024-01-01 10:20:00"), 10.0),
      (t("2024-01-01 11:05:00"), 40.0))
    // b2 carries a LATE value for the 10:00 bucket — it must fold into
    // its true bucket, not a new one
    val b2 = Seq((t("2024-01-01 11:30:00"), 40.0), (t("2024-01-01 10:59:00"), 40.0))
    b1.toDF("ts", "v").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestBucketNumericProfile(stream(), "v", "ts", 3600L,
      store, "bnp", ckpt).awaitTermination(60000)
    b2.toDF("ts", "v").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestBucketNumericProfile(stream(), "v", "ts", 3600L,
      store, "bnp", ckpt).awaitTermination(60000)
    def storedRows() = store.read("bnp", Seq("bucket_start", "bin"))
      .select("bucket_start", "bin", "n").as[(Long, Long, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("ts", "v")
    val oneShot = Events.bucketNumericProfile(union, "v", "ts", 3600L)
      .as[(Long, Long, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot count")
    // two buckets — the late value folded back into 10:00's
    assert(grown.map(_._1).size == 2, s"got $grown")
    assert(grown.toSeq.map(_._3).sum == 5L) // Σn == values ingested
    // profile-served timeline answers identically to the direct route
    val ref = Stats.numericProfile(Seq(10.0, 40.0).toDF("v"), "v")
    val served = Events.numericDriftTimelineFromProfiles(
        store.read("bnp", Seq("bucket_start", "bin")), ref)
      .orderBy("bucket_start").collect().toSeq
    val direct = Events.numericDriftTimeline(union, "v", "ts", ref, 3600L)
      .orderBy("bucket_start").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served numeric timeline must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt) {
      Fastlane.ingestBucketNumericProfile(stream(), "v", "ts", 3600L,
        store, "bnp", ckpt).awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
  }

  test("ingestBucketEmbeddingProfile: stream-grown embedding timeline bit-identical to one-shot; profile-served timeline == direct; late vectors fold into their true bucket; replay fenced") {
    import graft.ops.{Events, Similarity}
    val srcDir = tmpDir("bep_src")
    val store = new graft.core.BucketedStore(tmpDir("bep_store"), numBuckets = 8)
    val ckpt = tmpDir("bep_ckpt")
    def stream() = spark.readStream
      .schema("ts TIMESTAMP, vec ARRAY<FLOAT>").json(s"$srcDir/*")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq((t("2024-01-01 10:00:00"), Seq(0.5f, 1.5f)),
      (t("2024-01-01 10:20:00"), Seq(0.5f, 0.5f)),
      (t("2024-01-01 11:05:00"), Seq(1.5f, 1.5f)))
    // b2 carries a LATE vector for the 10:00 bucket — it must fold into
    // its true bucket, not a new one
    val b2 = Seq((t("2024-01-01 11:30:00"), Seq(1.5f, 0.5f)),
      (t("2024-01-01 10:59:00"), Seq(1.5f, 1.5f)))
    def ingest() = Fastlane.ingestBucketEmbeddingProfile(stream(), "vec",
      "ts", 3600L, store, "bep", ckpt,
      dim = 2, bins = 4, binWidthMicro = 1000000L).awaitTermination(60000)
    b1.toDF("ts", "vec").write.mode("overwrite").json(s"$srcDir/b1")
    ingest()
    b2.toDF("ts", "vec").write.mode("overwrite").json(s"$srcDir/b2")
    ingest()
    def storedRows() = store.read("bep", Seq("bucket_start", "pos", "bin"))
      .select("bucket_start", "pos", "bin", "n", "s")
      .as[(Long, Int, Long, Long, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("ts", "vec")
    val oneShot = Events.bucketEmbeddingProfile(union, "vec", "ts", 3600L,
        dim = 2, bins = 4, binWidthMicro = 1000000L)
      .as[(Long, Int, Long, Long, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot profile")
    // two buckets — the late vector folded back into 10:00's
    assert(grown.map(_._1).size == 2, s"got $grown")
    assert(grown.toSeq.map(_._4).sum == 10L) // Σn == dim · vectors ingested
    // profile-served timeline answers identically to the direct route
    val ref = Similarity.embeddingProfile(union.select("vec"), "vec",
      dim = 2, bins = 4, binWidthMicro = 1000000L)
    val served = Events.embeddingDriftTimelineFromProfiles(
        store.read("bep", Seq("bucket_start", "pos", "bin")), ref)
      .orderBy("bucket_start").collect().toSeq
    val direct = Events.embeddingDriftTimeline(union, "vec", "ts", ref,
        3600L, dim = 2, bins = 4, binWidthMicro = 1000000L)
      .orderBy("bucket_start").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served embedding timeline must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt)(ingest())
    assert(storedRows() == grown, "replayed batches must not double-count")
  }

  test("ingestBucketNumericProfileByGroup: stream-grown segmented numeric timeline bit-identical to one-shot; served == direct; replay fenced") {
    import graft.ops.{Events, Stats}
    val srcDir = tmpDir("gbnp_src")
    val store = new graft.core.BucketedStore(tmpDir("gbnp_store"), numBuckets = 8)
    val ckpt = tmpDir("gbnp_ckpt")
    def stream() = spark.readStream
      .schema("g STRING, ts TIMESTAMP, v DOUBLE").json(s"$srcDir/*")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(("s1", t("2024-01-01 10:00:00"), 10.0),
      ("s1", t("2024-01-01 10:20:00"), 10.0), ("s2", t("2024-01-01 10:30:00"), 40.0))
    // b2 carries a LATE value for s1's 10:00 bucket
    val b2 = Seq(("s1", t("2024-01-01 11:05:00"), 40.0),
      ("s1", t("2024-01-01 10:59:00"), 40.0), ("s2", t("2024-01-01 11:10:00"), 90.0))
    b1.toDF("g", "ts", "v").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestBucketNumericProfileByGroup(stream(), "v", "ts", "g",
      3600L, store, "gbnp", ckpt).awaitTermination(60000)
    b2.toDF("g", "ts", "v").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestBucketNumericProfileByGroup(stream(), "v", "ts", "g",
      3600L, store, "gbnp", ckpt).awaitTermination(60000)
    def storedRows() = store.read("gbnp", Seq("g", "bucket_start", "bin"))
      .select("g", "bucket_start", "bin", "n")
      .as[(String, Long, Long, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("g", "ts", "v")
    val oneShot = Events.bucketNumericProfileByGroup(union, "v", "ts", "g", 3600L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot segmented count")
    assert(grown.toSeq.map(_._4).sum == 6L) // Σn == values ingested
    // per-group served timeline answers identically to the direct route
    val ref = Stats.numericProfileByGroup(
      Seq(("s1", 10.0), ("s1", 40.0), ("s2", 40.0), ("s2", 90.0)).toDF("g", "v"),
      "v", "g")
    val served = Events.numericDriftTimelineByGroupFromProfiles(
        store.read("gbnp", Seq("g", "bucket_start", "bin")), ref, "g")
      .orderBy("g", "bucket_start").collect().toSeq
    val direct = Events.numericDriftTimelineByGroup(union, "v", "ts", "g",
        ref, 3600L)
      .orderBy("g", "bucket_start").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served segmented numeric timeline must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt) {
      Fastlane.ingestBucketNumericProfileByGroup(stream(), "v", "ts", "g",
        3600L, store, "gbnp", ckpt).awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
  }

  test("ingestTokenProfileByGroup: stream-grown segmented profile bit-identical to one-shot; per-group drift served from storage == direct; replay fenced") {
    import graft.ops.TextOps
    val srcDir = tmpDir("gtprof_src")
    val store = new graft.core.BucketedStore(tmpDir("gtprof_store"), numBuckets = 8)
    val ckpt = tmpDir("gtprof_ckpt")
    def stream() = spark.readStream
      .schema("source STRING, text STRING").json(s"$srcDir/*")
    val b1 = Seq(("s1", "x x y"), ("s2", "p p"))
    val b2 = Seq(("s1", "y z"), ("s2", "p q"), ("s3", "m m"))
    b1.toDF("source", "text").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestTokenProfileByGroup(stream(), "text", "source", store,
      "gtprof", ckpt).awaitTermination(60000)
    b2.toDF("source", "text").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestTokenProfileByGroup(stream(), "text", "source", store,
      "gtprof", ckpt).awaitTermination(60000)
    def storedRows() = store.read("gtprof", Seq("source", "token"))
      .select("source", "token", "n").as[(String, String, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("source", "text")
    val oneShot = TextOps.tokenProfileByGroup(union, "text", "source")
      .as[(String, String, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot segmented count")
    assert(grown.toSeq.map(_._3).sum == 11L, "Σn == total tokens ingested")
    // the per-source dashboard read: drift served from the STORED profile
    // equals the direct two-corpus scan
    val ref = Seq(("s1", "y y z"), ("s2", "p"), ("s4", "r")).toDF("source", "text")
    val served = TextOps.tokenDriftByGroupFromProfiles(
        store.read("gtprof", Seq("source", "token")),
        TextOps.tokenProfileByGroup(ref, "text", "source"), "source", topM = 10)
      .orderBy("source", "rank").collect().toSeq
    val direct = TextOps.tokenDriftByGroup(union, ref, "text", "source", topM = 10)
      .orderBy("source", "rank").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served per-group drift must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt) {
      Fastlane.ingestTokenProfileByGroup(stream(), "text", "source", store,
        "gtprof", ckpt).awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
    // the maintenance cadence: as per-batch merges accumulate bucket dirs,
    // compaction folds them back without changing the profile
    store.compactBuckets("gtprof", Seq("source", "token"))
    assert(storedRows() == grown, "compaction must be answer-stable")
  }

  test("ingestTokenProfileByGroup: NULL-source rows add as ONE group across micro-batches; served per-group drift == direct") {
    import graft.ops.TextOps
    val srcDir = tmpDir("ntprof_src")
    val store = new graft.core.BucketedStore(tmpDir("ntprof_store"), numBuckets = 8)
    val ckpt = tmpDir("ntprof_ckpt")
    def stream() = spark.readStream
      .schema("source STRING, text STRING").json(s"$srcDir/*")
    // both batches carry NULL-source rows, and token x is in the NULL group
    // of both: the second batch must ADD into the stored NULL-group row
    val b1 = Seq(("s1", "x x y"), (null, "x z"))
    val b2 = Seq((null, "x y"), ("s2", "z"), (null, "w x"))
    b1.toDF("source", "text").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestTokenProfileByGroup(stream(), "text", "source", store,
      "ntprof", ckpt).awaitTermination(60000)
    b2.toDF("source", "text").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestTokenProfileByGroup(stream(), "text", "source", store,
      "ntprof", ckpt).awaitTermination(60000)
    val grown = store.read("ntprof", Seq("source", "token"))
      .select("source", "token", "n").as[(Option[String], String, Long)]
      .collect().toSeq
    val union = (b1 ++ b2).toDF("source", "text")
    val oneShot = TextOps.tokenProfileByGroup(union, "text", "source")
      .select("source", "token", "n").as[(Option[String], String, Long)]
      .collect().toSeq
    assert(grown.sortBy(_.toString) == oneShot.sortBy(_.toString),
      s"stream-grown profile must equal a one-shot count: $grown vs $oneShot")
    // one NULL-group row per token, counts summed across the batches
    assert(grown.filter(_._1.isEmpty).map(r => r._2 -> r._3).sorted ==
      Seq("w" -> 1L, "x" -> 3L, "y" -> 1L, "z" -> 1L))
    // the dashboard read over the stored profile == the direct scan, with
    // NULL groups on both sides (the per-group scoring tail's totals join
    // leaves the NULL group out of both routes alike)
    val ref = Seq(("s1", "y y z"), (null, "x x"), ("s3", "r")).toDF("source", "text")
    val served = TextOps.tokenDriftByGroupFromProfiles(
        store.read("ntprof", Seq("source", "token")),
        TextOps.tokenProfileByGroup(ref, "text", "source"), "source", topM = 10)
      .orderBy("source", "rank").collect().toSeq
    val direct = TextOps.tokenDriftByGroup(union, ref, "text", "source", topM = 10)
      .orderBy("source", "rank").collect().toSeq
    assert(served.nonEmpty && served == direct,
      "profile-served per-group drift must equal the direct route")
  }

  test("ingestEmbeddingProfileByGroup: stream-grown segmented profile bit-identical to one-shot; BOTH per-group monitors served from storage == direct") {
    import graft.ops.Similarity
    val srcDir = tmpDir("geprof_src")
    val store = new graft.core.BucketedStore(tmpDir("geprof_store"), numBuckets = 8)
    val ckpt = tmpDir("geprof_ckpt")
    def stream() = spark.readStream
      .schema("label INT, embedding ARRAY<FLOAT>").json(s"$srcDir/*")
    def vec(xs: (Int, Float)*) = (0 until 64).map(i => xs.toMap.getOrElse(i, 0.0f))
    val b1 = Seq((1, vec(5 -> 0.1f)), (2, vec(7 -> 0.2f)))
    val b2 = Seq((1, vec(5 -> -0.1f)), (2, vec(7 -> 0.2f)), (3, vec(0 -> 1.0f)))
    b1.toDF("label", "embedding").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestEmbeddingProfileByGroup(stream(), "embedding", "label",
      store, "geprof", ckpt).awaitTermination(60000)
    b2.toDF("label", "embedding").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestEmbeddingProfileByGroup(stream(), "embedding", "label",
      store, "geprof", ckpt).awaitTermination(60000)
    def storedRows() = store.read("geprof", Seq("label", "pos", "bin"))
      .select("label", "pos", "bin", "n", "s")
      .as[(Int, Int, Long, Long, Long)].collect().toSet
    val grown = storedRows()
    val union = (b1 ++ b2).toDF("label", "embedding")
    val oneShot = Similarity.embeddingProfileByGroup(union, "embedding", "label")
      .select("label", "pos", "bin", "n", "s")
      .as[(Int, Int, Long, Long, Long)].collect().toSet
    assert(grown.nonEmpty && grown == oneShot,
      "additive growth must be BIT-identical to a one-shot segmented profile")
    assert(grown.toSeq.map(_._4).sum == 64L * 5, "Σn == dim · vectors ingested")
    // one stored profile pair answers BOTH per-group monitors identically
    // to the direct routes
    val ref = Seq((1, vec(5 -> 0.05f)), (2, vec(7 -> 0.6f)), (4, vec(2 -> 0.5f)))
      .toDF("label", "embedding")
    val refProf = Similarity.embeddingProfileByGroup(ref, "embedding", "label")
    val stored = store.read("geprof", Seq("label", "pos", "bin"))
    val meanServed = Similarity.embeddingDriftByGroupFromProfiles(stored, refProf, "label")
      .orderBy("label", "rank").collect().toSeq
    val meanDirect = Similarity.embeddingDriftByGroup(union, ref, "embedding", "label")
      .orderBy("label", "rank").collect().toSeq
    assert(meanServed.nonEmpty && meanServed == meanDirect,
      "profile-served per-group mean drift must equal the direct route")
    val shapeServed = Similarity.embeddingShapeDriftByGroupFromProfiles(stored, refProf, "label")
      .orderBy("label", "rank").collect().toSeq
    val shapeDirect = Similarity.embeddingShapeDriftByGroup(union, ref, "embedding", "label")
      .orderBy("label", "rank").collect().toSeq
    assert(shapeServed.nonEmpty && shapeServed == shapeDirect,
      "profile-served per-group shape drift must equal the direct route")
    // a forced replay of the last batch under the same lineage is fenced out
    replayLastBatch(ckpt) {
      Fastlane.ingestEmbeddingProfileByGroup(stream(), "embedding", "label",
        store, "geprof", ckpt).awaitTermination(60000)
    }
    assert(storedRows() == grown, "replayed batches must not double-count")
  }

  test("ingestPassageDeduped: streaming passage gate == batch paragraphDedup over the union") {
    val corpusDir = tmpDir("ingp_corpus") + "/c"
    val srcDir = tmpDir("ingp_src")
    val store = new graft.core.BucketedStore(tmpDir("ingp_idx"), numBuckets = 16)
    val w = 3 // tokens per passage
    val p1 = "alpha beta gamma"; val p2 = "delta epsilon zeta"
    val p3 = "eta theta iota";   val p4 = "kappa lambda mu"
    // batch 1: doc 2 repeats doc 1's first passage (intra-batch strip)
    val b1 = Seq((1L, s"$p1 $p2"), (2L, s"$p1 $p3"))
    // batch 2: doc 3 is entirely passages admitted in batch 1 (empty
    // clean_text); doc 4 mixes one seen passage with a novel one
    val b2 = Seq((3L, s"$p2 $p3"), (4L, s"$p4 $p1"))
    b1.toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b1")
    val ckpt = tmpDir("ingp_ckpt")
    Fastlane.ingestPassageDeduped(
      spark.readStream.schema("doc_id LONG, text STRING").json(s"$srcDir/*"),
      "doc_id", "text", store, "corpus", corpusDir, ckpt, tokensPerPassage = w)
      .awaitTermination(60000)
    b2.toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestPassageDeduped(
      spark.readStream.schema("doc_id LONG, text STRING").json(s"$srcDir/*"),
      "doc_id", "text", store, "corpus", corpusDir, ckpt, tokensPerPassage = w,
      compactEvery = 1) // mid-stream maintenance must not change answers
      .awaitTermination(60000)
    val streamed = spark.read.parquet(corpusDir)
      .select("id", "clean_text", "n_kept", "n_total")
      .as[(Long, String, Long, Long)].collect().toSet
    // ids arrive in batch order, so the accumulated stream output must
    // equal ONE batch paragraphDedup over the union
    val batchOp = graft.ops.Dedup.paragraphDedup(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", w)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed == batchOp, s"stream $streamed != batch $batchOp")
    // the fully-duplicated doc survived as an empty row, not a dropped one
    assert(streamed.exists(r => r._1 == 3L && r._2 == "" && r._3 == 0L))
    // the index holds exactly the admitted distinct passages
    val nDigests = store.read("corpus_passages", Seq("digest"))
      .select("digest").distinct().count()
    assert(nDigests == 4L, s"expected 4 admitted passage digests, got $nDigests")
  }

  test("composed streaming ingest: filter gate + passage dedup over micro-batches == the batch chain") {
    // the q292/q293 chain's streaming leg, pure composition: filterPipeline
    // is a stateless projection so it gates the STREAM directly, and the
    // passage-dedup ingest consumes the survivors — accumulated output
    // must equal the batch chain (filter → paragraphDedup) over the union
    val corpusDir = tmpDir("ingf_corpus") + "/c"
    val srcDir = tmpDir("ingf_src")
    val store = new graft.core.BucketedStore(tmpDir("ingf_idx"), numBuckets = 16)
    val w = 3
    val p1 = "alpha beta gamma"; val p2 = "delta epsilon zeta"
    val p3 = "eta theta iota";   val p4 = "kappa lambda mu"
    // docs 9 and 8 fail the filter (a brace → C4, lorem ipsum → C4) and
    // must never reach the dedup gate or the corpus
    val b1 = Seq((1L, s"$p1 $p2"), (2L, s"$p1 $p3"),
      (9L, "omega brace doc failing here {"))
    val b2 = Seq((3L, s"$p2 $p3"), (4L, s"$p4 $p1"),
      (8L, "lorem ipsum filler words here rejected"))
    def gated(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.filterPipeline(df, "doc_id", "text",
          wantedLangs = Seq("unknown"), minTokens = 2,
          gopherMinWords = 2, gopherMinStopHits = 0, c4MinSentences = 1,
          passthrough = Seq("text"))
        .where(col("accept"))
        .select(col("id").as("doc_id"), col("text"))
    val ckpt = tmpDir("ingf_ckpt")
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").json(s"$srcDir/*")
    b1.toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestPassageDeduped(gated(stream()),
      "doc_id", "text", store, "corpus", corpusDir, ckpt, tokensPerPassage = w)
      .awaitTermination(60000)
    b2.toDF("doc_id", "text").write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.ingestPassageDeduped(gated(stream()),
      "doc_id", "text", store, "corpus", corpusDir, ckpt, tokensPerPassage = w)
      .awaitTermination(60000)
    val streamed = spark.read.parquet(corpusDir)
      .select("id", "clean_text", "n_kept", "n_total")
      .as[(Long, String, Long, Long)].collect().toSet
    val batchOp = graft.ops.Dedup.paragraphDedup(
        gated((b1 ++ b2).toDF("doc_id", "text")), "doc_id", "text", w)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed == batchOp, s"stream $streamed != batch $batchOp")
    // the filter-rejected docs never entered the corpus or the digest index
    assert(!streamed.exists(r => r._1 == 8L || r._1 == 9L),
      "filter-rejected docs leaked into the deduped corpus")
    val nDigests = store.read("corpus_passages", Seq("digest"))
      .select("digest").distinct().count()
    assert(nDigests == 4L, s"expected 4 admitted passage digests, got $nDigests")
  }

  test("ingestVectorsIndexed: streaming semantic-dedup gate over the persistent ANN index") {
    // unit vectors in a 64-dim space: v(deg) rotates in the (0,1) plane;
    // axis(k) is orthogonal to everything else. threshold 0.9 ~ 25.8 deg.
    def v(deg: Double): Array[Float] = {
      val a = Array.fill(64)(0f)
      a(0) = math.cos(math.toRadians(deg)).toFloat
      a(1) = math.sin(math.toRadians(deg)).toFloat
      a
    }
    def axis(k: Int): Array[Float] = { val a = Array.fill(64)(0f); a(k) = 1f; a }
    val corpusDir = tmpDir("ingv_corpus") + "/c"
    val srcDir = tmpDir("ingv_src")
    val store = new graft.core.BucketedStore(tmpDir("ingv_idx"), numBuckets = 16)
    val ckpt = tmpDir("ingv_ckpt")
    def stream() = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(s"$srcDir/*")

    // batch 1: two distinct vectors plus an intra-batch near-dup of vec 1
    // (cos 10 deg ~ .985 >= .9 collapses to the min id)
    Seq((1L, v(0)), (2L, axis(2)), (3L, v(10)))
      .toDF("vec_id", "embedding").write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.ingestVectorsIndexed(stream(), "vec_id", "embedding",
      store, "ann", corpusDir, ckpt, threshold = 0.9).awaitTermination(60000)
    val after1 = spark.read.parquet(corpusDir).select("vec_id").as[Long].collect().toSet
    assert(after1 == Set(1L, 2L), s"intra-batch semantic dup not collapsed: $after1")

    // batch 2: a near-dup of admitted vec 1 (5 deg), and a genuinely new axis
    Seq((4L, v(5)), (5L, axis(3)))
      .toDF("vec_id", "embedding").write.mode("overwrite").json(s"$srcDir/b2")
    // compactEvery = 1: batch 1 also folds the appended list dirs — the
    // admitted set and the serving answers below must be unaffected
    Fastlane.ingestVectorsIndexed(stream(), "vec_id", "embedding",
      store, "ann", corpusDir, ckpt, threshold = 0.9,
      compactEvery = 1).awaitTermination(60000)
    val after2 = spark.read.parquet(corpusDir).select("vec_id").as[Long].collect().toSet
    assert(after2 == Set(1L, 2L, 5L), s"cross-batch semantic dup admitted: $after2")
    // the index's inverted lists hold exactly the admitted corpus
    val indexed = store.read("ann_lists", Seq("cent_id"))
      .select("corpus_id").distinct().as[Long].collect().toSet
    assert(indexed == Set(1L, 2L, 5L))
    // and the index answers serving queries over the admitted corpus: the
    // nearest admitted neighbor of a 3-deg rotation of vec 1 is vec 1
    val near = graft.ops.Similarity.searchIndexed(
        Seq((100L, v(3))).toDF("vec_id", "embedding"), "vec_id", "embedding",
        store, "ann", k = 1, nprobe = 4)
      .select("corpus_id").as[Long].head()
    assert(near == 1L)

    // batch 3 with relistEvery = 1: the new axis is admitted, then the index
    // is RE-LISTED at autoNlist(corpus) — geometry tracks the grown corpus
    // (the bootstrap batch froze nlist; relist is the maintenance that
    // unfreezes it) and serving answers stay correct afterwards
    Seq((6L, axis(4))).toDF("vec_id", "embedding")
      .write.mode("overwrite").json(s"$srcDir/b3")
    Fastlane.ingestVectorsIndexed(stream(), "vec_id", "embedding",
      store, "ann", corpusDir, ckpt, threshold = 0.9,
      relistEvery = 1).awaitTermination(60000)
    val after3 = spark.read.parquet(corpusDir).select("vec_id").as[Long].collect().toSet
    assert(after3 == Set(1L, 2L, 5L, 6L))
    // relist rewrote the centroid table at autoNlist(4) = 16 centroids
    // floored — but only 4 corpus vectors exist, so the seeded centroid
    // count is bounded by the corpus: centroids == min(autoNlist(4), 4)
    val nCent = store.read("ann_centroids", Seq("cent_id")).count()
    assert(nCent == 4L, s"relist should seed one centroid per stored vector, got $nCent")
    val near3 = graft.ops.Similarity.searchIndexed(
        Seq((101L, axis(4))).toDF("vec_id", "embedding"), "vec_id", "embedding",
        store, "ann", k = 1, nprobe = 4)
      .select("corpus_id").as[Long].head()
    assert(near3 == 6L)
  }

  /** The upsert contract as a frame: the stored rows whose key `batch`
    * does not carry, plus the batch's rows. */
  private def upserted(stored: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame) =
    stored.join(batch.select(feature.entityKeys.map(col): _*), feature.entityKeys, "left_anti")
      .unionByName(batch)

  private def state(df: org.apache.spark.sql.DataFrame) = df
    .select("user_id", "sum_value").as[(Long, Double)].collect().toMap

  test("serveBucketed: streaming micro-batches merge file-level; state matches the flat streaming route") {
    val bucketed = new BucketedStore(tmpDir("fsbbuck"), numBuckets = 16)
    val srcDir = tmpDir("fsb_src")
    val ck = tmpDir("fsb_ck")
    def stream() = spark.readStream.schema("user_id LONG, value DOUBLE").json(s"$srcDir/*")
    // batch 1 bootstraps; batch 2 merges (same checkpoint across restarts)
    val b1 = Seq((1L, 10.0), (2L, 5.0)).toDF("user_id", "value")
    val b2 = Seq((1L, 2.5), (3L, 7.0)).toDF("user_id", "value")
    b1.write.mode("overwrite").json(s"$srcDir/b1")
    Fastlane.serveBucketed(feature, stream(), bucketed, ck).awaitTermination(60000)
    b2.write.mode("overwrite").json(s"$srcDir/b2")
    Fastlane.serveBucketed(feature, stream(), bucketed, ck).awaitTermination(60000)
    // the state a flat stream of upserts reaches: batch 2 replaces its keys
    val expected = upserted(feature.transform(b1), feature.transform(b2))
    assert(state(bucketed.read(feature.name, feature.entityKeys)) == state(expected))
    assert(state(expected) == Map(1L -> 2.5, 2L -> 5.0, 3L -> 7.0))
    // two stream batches -> bootstrap version + one merge version
    assert(bucketed.versions(feature.name).size == 2)
  }

  test("serveOnceBucketed: file-level serving merge rewrites ONE bucket, matches the copy-on-write route") {
    val bucketed = new BucketedStore(tmpDir("fsrvbuck"), numBuckets = 16)
    // a 200-entity state, then one served row
    val seed = (1L to 200L).map(i => (i, i * 1.0)).toDF("user_id", "value")
    Fastlane.serveOnceBucketed(feature, seed, bucketed) // bootstrap write
    val one = Seq((42L, 99.0)).toDF("user_id", "value")
    val vPrev = bucketed.latestVersion(feature.name).get
    Fastlane.serveOnceBucketed(feature, one, bucketed)
    // the state a copy-on-write upsert of the whole table reaches
    val expected = upserted(feature.transform(seed), feature.transform(one))
    assert(state(bucketed.read(feature.name, feature.entityKeys)) == state(expected))
    assert(state(expected)(42L) == 99.0 && state(expected).size == 200)
    // the bucketed merge rewrote exactly ONE bucket: the new version's file
    // set differs from the previous version's by one bucket dir
    val newFiles = bucketed.read(feature.name, feature.entityKeys).inputFiles.toSet
    val prevFiles = bucketed.read(feature.name, feature.entityKeys, Some(vPrev)).inputFiles.toSet
    assert((newFiles -- prevFiles).map(_.split("/__b=")(1).split("/")(0)).size == 1,
      "single-key serve must rewrite exactly one bucket")
    assert((prevFiles & newFiles).nonEmpty, "untouched buckets must carry by reference")
  }

  test("same transform in batch and fastlane produces identical results") {
    val storeA = new BucketedStore(tmpDir("modeA"), numBuckets = 16)
    val storeB = new BucketedStore(tmpDir("modeB"), numBuckets = 16)
    val data = Seq((1L, 1.0), (1L, 2.0), (2L, 3.0)).toDF("user_id", "value")
    // batch lane
    graft.core.PipelineRunner.runBucketed(feature, data, storeA,
      new graft.core.Registry(storeA.root))
    // fastlane
    Fastlane.serveOnceBucketed(feature, data, storeB)
    def rows(st: BucketedStore) = st.read(feature.name, feature.entityKeys)
      .select("user_id", "sum_value", "n", "__data_hash", "__code_version")
      .as[(Long, Double, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(rows(storeA) == rows(storeB))
    assert(rows(storeA).map(r => (r._1, r._2, r._3)) == Seq((1L, 3.0, 2L), (2L, 3.0, 1L)))
  }
}
