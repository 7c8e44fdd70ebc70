package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal for the similarity/dedup family (the ops whose 100 TB
  * safety the PlanSpec locks argue only structurally): run q71/q73/q74/q86's
  * operator invocations at 1x and Nx the sf0.1 corpus and report the runtime
  * ratio against linear.
  *
  * The Nx corpus preserves the 1x workload SHAPE so the comparison is fair:
  *  - documents: replica i prefixes every token with "xi" — all shingles
  *    differ across replica families (no cross-family near-dups), while each
  *    family internally reproduces the original pair structure exactly, so
  *    the true near-dup pair count scales linearly with N;
  *  - embeddings: replica i rotates the 64 dims by i — rotation preserves
  *    norms and intra-family dot products (same near-dup pairs per family)
  *    and decorrelates cross-family cosines.
  *
  * Usage: runMain graft.ScaleRehearsal [baseDir] [factor] [op1,op2,...]
  * (the optional third arg times only the named ops — prep still builds
  * everything). Prints one JSON line per (op, scale) and a final summary
  * with ratios.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val opFilter = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val spark = LocalSession("WARN")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    val docs0 = Tables.load(spark, baseDir, "documents")
    val emb0 = Tables.load(spark, baseDir, "embeddings")
    val li0 = Tables.load(spark, baseDir, "lineitem")
    val ord0 = Tables.load(spark, baseDir, "orders")
    val ev0 = Tables.load(spark, baseDir, "events")
    val nDocs = docs0.count()
    val nVecs = emb0.count()
    val nOrd = ord0.count()
    val nEv = ev0.count()

    // prefix delimiter "_" keeps families unambiguous at factor > 10:
    // bare "x$i" would make (replica 1, token "1t") and (replica 11,
    // token "t") collide as "x11t", sharing shingles across families
    def scaledDocs(k: Int): DataFrame =
      (0 until k).map { i =>
        if (i == 0) docs0.select(col("doc_id"), col("text"), col("source"))
        else docs0.select(
          (col("doc_id") + lit(i * nDocs)).as("doc_id"),
          concat(lit(s"x${i}_"), regexp_replace(col("text"), " ", s" x${i}_")).as("text"),
          col("source"))
      }.reduce(_ unionByName _)

    // rotation cycles mod 64 (slice length must stay >= 0 at factor > 64);
    // replica families 64 apart share a rotation — each vector then has one
    // exact twin per shared family, adding LINEARLY many cross-family pairs
    // (bounded, shape-preserving), never a quadratic blow-up
    def scaledEmb(k: Int): DataFrame =
      (0 until k).map { i =>
        val r = i % 64
        if (r == 0) emb0.select((col("vec_id") + lit(i * nVecs)).as("vec_id"), col("embedding"))
        else emb0.select(
          (col("vec_id") + lit(i * nVecs)).as("vec_id"),
          concat(slice(col("embedding"), r + 1, 64 - r),
            slice(col("embedding"), 1, r)).as("embedding"))
      }.reduce(_ unionByName _)

    // event replicas: user ids shift per replica, so the number of window
    // partitions / sessions / as-of groups scales linearly while each
    // user's time series stays identical — the shape of adding users, the
    // way an event table actually grows
    def scaledEvents(k: Int): DataFrame =
      (0 until k).map { i =>
        if (i == 0) ev0
        else ev0
          .withColumn("user_id", col("user_id") + lit(i * 10000000L))
          .withColumn("event_id", col("event_id") + lit(i * 10L * nEv))
      }.reduce(_ unionByName _)

    // relational fact/dim replicas: order keys shift per replica so the
    // join fan-out and group cardinalities scale linearly with k
    def scaledFacts(k: Int): (DataFrame, DataFrame) = (
      (0 until k).map { i =>
        if (i == 0) li0 else li0.withColumn("l_orderkey",
          col("l_orderkey") + lit(i * 10L * nOrd))
      }.reduce(_ unionByName _),
      (0 until k).map { i =>
        if (i == 0) ord0 else ord0
          .withColumn("o_orderkey", col("o_orderkey") + lit(i * 10L * nOrd))
          .withColumn("o_custkey", col("o_custkey") + lit(i * 1000000L))
      }.reduce(_ unionByName _))

    // materialize each scale as parquet so every op pays a realistic scan,
    // not an in-memory union recompute
    def prep(k: Int): String = {
      val dir = s"/tmp/graft_scale_$k"
      scaledDocs(k).write.mode("overwrite").parquet(s"$dir/documents")
      scaledEmb(k).write.mode("overwrite").parquet(s"$dir/embeddings")
      val (li, ord) = scaledFacts(k)
      li.write.mode("overwrite").parquet(s"$dir/lineitem")
      ord.write.mode("overwrite").parquet(s"$dir/orders")
      scaledEvents(k).write.mode("overwrite").parquet(s"$dir/events")
      // the incremental-dedup rehearsal matches a FIXED batch against the
      // stored profile of everything else — the profile is precomputed here
      // (production keeps it on disk; per-batch cost must not re-pay it)
      val all = spark.read.parquet(s"$dir/documents")
      val corpus = all.where(pmod(col("doc_id"), lit(5)) < 4 ||
        col("doc_id") >= nDocs)
      ops.Dedup.shingleProfiles(corpus, "doc_id", "text", 3, ops.Dedup.hashCoeffs(12))
        .write.mode("overwrite").parquet(s"$dir/profile")
      // persistent IVF ANN index for the serving rehearsal: built HERE
      // (production amortizes the build across the index lifetime), rebuilt
      // unconditionally so a prior run's timed appends don't accumulate.
      // nlist scales as sqrt(N) (autoNlist) with one list per store bucket —
      // the dial that keeps per-query probe IO sub-linear.
      val embAll = spark.read.parquet(s"$dir/embeddings")
      val nlist = ops.Similarity.autoNlist(embAll.count())
      val store = new core.BucketedStore(s"$dir/ivfidx", numBuckets = nlist)(spark)
      ops.Similarity.indexVectors(embAll, "vec_id", "embedding", store, "ann",
        nlist = nlist)
      // a SEPARATE scratch feature for the append rehearsal: q135's thunk
      // runs twice (warmup + timed) and appendToVectorIndex is append-only,
      // so growing "ann" itself would leave duplicate rows for any later
      // reader of the searched index regardless of op ordering
      ops.Similarity.indexVectors(embAll, "vec_id", "embedding", store, "annx",
        nlist = nlist)
      // append-growth rehearsal pair: both indexes bootstrap from family 0
      // ONLY (geometry = autoNlist(nVecs)) and grow to the full corpus
      // through O(batch) appends. "annf" keeps the FROZEN bootstrap
      // geometry — per-list size (hence per-query probe IO) grows linearly
      // with the corpus; "anng" then runs relistVectorIndex, the
      // maintenance op that re-buckets at autoNlist(N_now) and restores
      // sub-sqrt(N) search. The timed q134f/q134g ops below measure the
      // contrast.
      val fam0 = embAll.where(col("vec_id") < nVecs)
      val rest = embAll.where(col("vec_id") >= nVecs)
      val nlist0 = ops.Similarity.autoNlist(nVecs)
      Seq("annf", "anng").foreach { f =>
        ops.Similarity.indexVectors(fam0, "vec_id", "embedding", store, f,
          nlist = nlist0)
        if (k > 1)
          ops.Similarity.appendToVectorIndex(rest, "vec_id", "embedding", store, f)
      }
      ops.Similarity.relistVectorIndex(store, "anng")
      // BM25 postings index for the q188 serving rehearsal: built here
      // (production amortizes the build across the index lifetime)
      val bmStore = new core.BucketedStore(s"$dir/bm25idx", numBuckets = 16)(spark)
      ops.TextOps.indexBm25(all, "doc_id", "text", bmStore, "bm25")
      dir
    }

    def sec(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache(); dt
    }
    def run(dir: String): Map[String, Double] = {
      val docs = spark.read.parquet(s"$dir/documents")
      val emb = spark.read.parquet(s"$dir/embeddings")
      val li = spark.read.parquet(s"$dir/lineitem")
      val ord = spark.read.parquet(s"$dir/orders")
      val ev = spark.read.parquet(s"$dir/events")
      // hoisted OUT of the timed thunk: a production caller sizes autoPlanes
      // from a known (amortized) corpus count, so the counting scan is not
      // part of the operator cost being rehearsed
      val nEmb = emb.count()
      // likewise the UniMax budget: production budgets come from the run
      // config, not a count inside the op
      val nDocsDir = docs.count()
      // hoisted: q155 rehearses ENCODING with a pre-trained tokenizer (the
      // production shape); training cost is q154's own rehearsal entry
      lazy val bpeMerges8 = ops.TextOps.learnBpeMerges(docs, "text", numMerges = 8)
        .orderBy("step").select("left_tok", "right_tok")
        .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
      // hoisted for the same reason: q167 rehearses ENCODING with a
      // pre-trained vocab; training cost is q166's own entry
      lazy val unigramVocab40 = ops.TextOps.learnUnigramVocab(docs, "text", 40,
        maxPieceLen = 4, rounds = 2, seedMultiplier = 4, maxWordLen = 16)
      lazy val pqBook = ops.Similarity.pqCodebook(emb, "vec_id", "embedding", 8, 16, 64)
      def force(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      Seq(
        // relational core: the q01 aggregation and q03-shaped fact-fact
        // join + rollup (partial aggs below the join, locked in PlanSpec)
        "q01_scan_agg" -> (() => force(li
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(round(col("l_quantity") * 100).cast("long")).as("qc"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("pc"),
            count(lit(1)).as("n")))),
        "q03_join_agg" -> (() => force(li
          .groupBy("l_orderkey").agg(
            sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
          .join(ord.select("o_orderkey", "o_custkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey")
          .agg(sum("rev").as("rev"), max("o_orderdate").as("last")))),
        // window family (q10/q11/q12 shapes): ONE user-keyed shuffle each,
        // then in-partition sort + frame evaluation. Replicas add USERS
        // (partitions), not rows per user, so expect ~linear wall — a
        // super-linear point here would mean the sort or frame evaluation
        // leaks across partition boundaries
        "q10_window_cumulative" -> (() => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          val wf = w.rowsBetween(Long.MinValue, 0)
          force(ord.select(col("o_custkey"), col("o_orderkey"),
            lag("o_totalprice", 1).over(w).as("prev_price"),
            rank().over(w).as("seq_rank"),
            sum(round(col("o_totalprice") * 100).cast("long")).over(wf).as("run_total")))
        }),
        "q11_window_rolling_rows" -> (() => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
            .rowsBetween(-2, 0)
          force(ev.select(col("user_id"), col("event_id"),
            (sum(round(col("value") * 100).cast("long")).over(w).cast("double")
              / count(lit(1)).over(w)).as("roll_avg3")))
        }),
        "q12_window_rolling_time" -> (() => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(ops.TimeCols.epochMicros(col("ts")))
            .rangeBetween(-3600000000L, 0)
          force(ev.select(col("user_id"), col("event_id"),
            sum(round(col("value") * 100).cast("long")).over(w).as("roll_sum_1h"),
            count(lit(1)).over(w).as("n_events_1h")))
        }),
        // as-of join (q31 shape): both sides shuffle once on the user key,
        // then a per-key sorted backward match — linear in events
        "q31_asof_join" -> (() => {
          val purchases = ev.where(col("event_type") === "purchase")
            .select("user_id", "event_id", "ts")
          val views = ev.where(col("event_type") === "view")
            .select(col("user_id"), col("event_id").as("view_event_id"),
              col("value").as("view_value"), col("ts"))
          force(ops.AsOfJoin.asofBackward(purchases, views, Seq("user_id"),
            "ts", "ts", Seq("view_event_id", "view_value")))
        }),
        // sessionization (q105 shape): one user-keyed shuffle, gap-break
        // running sum in-partition
        "q105_sessionize" -> (() => force(ops.Events.sessionize(
          ev, "user_id", "ts", "event_id", "event_type", gapSec = 1800))),
        "q71_minhash_lsh" -> (() => force(ops.Dedup.minhashNearDupPairs(
          docs, "doc_id", "text", n = 3, numHashes = 12, bands = 4, threshold = 0.2))),
        // image near-dup: REAL BMP build + wire decode + dHash + banded
        // Hamming pairs — the q288 pipeline over doc-derived images; the
        // docs replicas give disjoint id families (disjoint base patterns),
        // so true pair count scales linearly and the banded join must too
        "q288_image_dhash" -> (() => {
          import spark.implicits._
          val imgs = docs.select(col("doc_id").cast("long").as("img_id"))
            .where(pmod(col("img_id"), lit(16)) < 2)
            .as[Long].mapPartitions(_.map { id =>
              val base = id / 2
              (id, ops.Multimodal.syntheticBmp(18, 16, (x, y) => {
                val v = ((base * 7919L + x * 31L + y * 17L) % 199L).toInt
                if (id % 2 == 1 && x < 4 && y < 4) v + 40 else v
              }))
            }).toDF("img_id", "img")
          val hashed = ops.Multimodal.imageDhash(imgs, "img",
              new ops.Multimodal.BmpDecoder())
            .select(col("img_id"), col("dhashed.dhash").as("dhash"))
          force(ops.Dedup.hammingNearDupPairs(hashed, "img_id", "dhash", 3))
        }),
        // the q292 chain END-TO-END: fused filter (passthrough) → paragraph
        // dedup → MinHash near-dup canonical gate → decontamination vs the
        // held-out split → temperature mixture → shards, with the same
        // persisted stage boundaries. The replica families are shingle-
        // disjoint, so every downstream stage's true work scales linearly;
        // the LEXICAL gate is widened (unknown lang ok, no stop-word
        // minimum) because the token-prefixed replicas have no English stop
        // words — the filter stage itself is a zero-shuffle projection
        // whose scaling is not in question, the chain's keyed joins are
        "q292_composed_pipeline" -> (() => {
          val corpus = docs.filter(col("doc_id") % 10 < 9)
            .select("doc_id", "text", "source")
          val evalSet = docs.filter(col("doc_id") % 10 === 9)
          val fdocs = ops.TextOps.filterPipeline(corpus, "doc_id", "text",
              wantedLangs = Seq("en", "unknown"),
              gopherMinWords = 10, gopherMinStopHits = 0, c4MinSentences = 1,
              passthrough = Seq("text", "source"))
            .where(col("accept"))
            .select(col("id").as("doc_id"), col("text"), col("source"))
            .persist()
          val pdocs = ops.Dedup.paragraphDedup(fdocs, "doc_id", "text", 20)
            .where(col("n_kept") > 0)
            .select(col("id").as("doc_id"), col("clean_text").as("text"))
            .join(fdocs.select("doc_id", "source"), Seq("doc_id"))
            .persist()
          val ndocs = ops.Dedup.dedupCorpusNear(pdocs, "doc_id", "text",
              n = 3, numHashes = 12, bands = 4, threshold = 0.2).persist()
          val contaminated = ops.TextOps.contaminationReport(ndocs, evalSet,
              "doc_id", "text", "doc_id", "text", n = 3, minShared = 2)
            .select("doc_id").distinct()
          val ddocs = ndocs.join(contaminated, Seq("doc_id"), "left_anti")
            .persist()
          val mdocs = ops.TextOps.temperatureMixture(
            ddocs.select("doc_id", "source"), "doc_id", "source",
            temperature = 0.5)
          force(ops.Shards.assign(mdocs, "doc_id", nShards = 8)
            .select("doc_id", "source", "shard"))
        }),
        "q73_ngram_jaccard" -> (() => force(ops.Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", blockCol = "source", n = 3, threshold = 0.2))),
        // the asymmetric variant: contained-side prefix × container's full
        // set — a bigger candidate join than Jaccard's prefix×prefix, but
        // still keyed (block, shingle), never all pairs — expect ~linear
        "q182_containment" -> (() => force(ops.Dedup.ngramContainmentPairs(
          docs, "doc_id", "text", blockCol = "source", n = 3, threshold = 0.5))),
        // planes scale with the corpus (autoPlanes) — the documented LSH
        // dial; a FIXED plane count grows buckets linearly and the
        // within-bucket join quadratically (13x wall at 30x rows)
        "q74_cosine_neardup" -> (() => force(ops.Similarity.cosineNearDupPairs(
          emb, "vec_id", "embedding", threshold = 0.5,
          planes = ops.Similarity.autoPlanes(nEmb)))),
        "q86_neardup_clusters" -> (() => force(ops.Dedup.nearDupClusters(
          ops.Dedup.minhashNearDupPairs(docs, "doc_id", "text",
            n = 3, numHashes = 12, bands = 4, threshold = 0.2)))),
        // end-to-end SemDeDup: pairs + CC + corpus-wide keep decision —
        // the CC rounds and the final corpus join are part of the op cost
        "q127_semantic_dedup" -> (() => force(ops.Similarity.semanticDedup(
          emb, "vec_id", "embedding", threshold = 0.5,
          planes = ops.Similarity.autoPlanes(nEmb)))),
        // passage dedup: replica prefixing keeps dup passages within a
        // family, so true passage-dup volume scales linearly with k
        "q128_paragraph_dedup" -> (() => force(ops.Dedup.paragraphDedup(
          docs, "doc_id", "text", tokensPerPassage = 20))),
        "q117_bigram_lm" -> (() => force(ops.TextOps.bigramLmScore(
          docs, "doc_id", "text"))),
        // exact-substring span dedup: replica token prefixes keep repeated
        // grams within a family, so dup-span volume scales linearly; the
        // exploded (id, pos, hash) stream is linear in total tokens and the
        // two window exchanges are both keyed — expect ~linear wall
        "q140_dup_span_stats" -> (() => force(ops.Dedup.duplicateSpanStats(
          docs, "doc_id", "text", spanTokens = 8))),
        // overlap contamination: FIXED eval set (family 0), corpus scales —
        // the broadcast gram set stays flat, the map-side probe and the one
        // doc-keyed agg track corpus bytes (same contract as q133)
        "q142_overlap_contamination" -> (() => {
          val evalSet = docs.where(col("doc_id") % 10 === 9 &&
            col("doc_id") < nDocs)
          force(ops.TextOps.overlapContamination(docs, evalSet,
            "doc_id", "text", "doc_id", "text", n = 3))
        }),
        // recall curve: FIXED 10-query batch, corpus scales — ground truth
        // is inherently O(|Q|·N) (two broadcast-joined corpus streams), so
        // expect ~linear wall tracking corpus bytes, never quadratic
        "q191_recall_curve" -> (() => force(ops.Similarity.ivfRecallCurve(
          emb.where(col("vec_id") < 10), emb, "vec_id", "vec_id", "embedding",
          k = 10, nlist = 16))),
        // MMR: k bounded driver rounds over the accumulated-max column —
        // the q183 shape; expect flat-ish (per-round scan tracks corpus)
        "q192_mmr_select" -> (() => force(ops.Similarity.mmrSelect(
          emb, "vec_id", "embedding", emb.where(col("vec_id") === 0),
          "embedding", k = 8, lambdaMicro = 700000L))),
        // LSH calibration, SAMPLED form (the r15 in-op contract): the
        // exact-Jaccard truth is the suite's one deliberately-unsampled
        // curve (measured 50x wall at 100x rows in r14), so corpus-wide
        // inputs above maxTruthDocs now RAISE by name and the prescribed
        // practice is calibrate-on-a-slice — a FIXED 1000-doc slice while
        // the corpus scales around it; expect FLAT (cost is a function of
        // the slice, not the corpus)
        "q193_lsh_calibration_sampled" -> (() => force(ops.Dedup.lshBandCalibration(
          docs.where(col("doc_id") < 1000), "doc_id", "text",
          n = 3, numHashes = 12, threshold = 0.5))),
        // negative sampling: map-side explode + one keyed payload join —
        // expect ~linear in anchors (fixed here) + corpus join cost
        // (the scaled corpus keeps ids dense 0..k·nDocs−1 — replica shifts)
        "q194_negative_sampling" -> (() => force(ops.Shards.sampleNegatives(
          docs.where(col("doc_id") < 100), "doc_id", docs, "doc_id",
          k = 50, nCorpus = nDocsDir, payloadCols = Seq("source")))),
        // hard-negative mining: FIXED 10-anchor batch, corpus scales — the
        // anchors broadcast and the corpus streams once (q75's shape);
        // expect ~linear tracking corpus bytes
        "q195_hard_negatives" -> (() => force(ops.Similarity.hardNegatives(
          emb.where(col("vec_id") < 10), emb, "vec_id", "vec_id",
          "embedding", k = 5, maxCosine = 0.98))),
        // BM25 retrieval: FIXED query batch (family 0's every-97th doc),
        // corpus scales — the doc-term agg tracks corpus tokens (~linear);
        // the candidate side stays query-term-keyed and broadcast
        "q186_bm25_topk" -> (() => force(ops.TextOps.bm25TopK(
          docs, "doc_id", "text",
          docs.where(col("doc_id") % 97 === 0 && col("doc_id") < nDocs)
            .select(col("doc_id").as("query_id"),
              concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("qtext")),
          "query_id", "qtext", k = 5))),
        // the SERVING route: same fixed query batch through the prebuilt
        // postings index — IO = the query terms' buckets only; per-batch
        // wall should stay far below the in-memory route's corpus scan
        "q188_indexed_bm25" -> (() => {
          val st = new core.BucketedStore(s"$dir/bm25idx", numBuckets = 16)(spark)
          force(ops.TextOps.searchIndexedBm25(
            docs.where(col("doc_id") % 97 === 0 && col("doc_id") < nDocs)
              .select(col("doc_id").as("query_id"),
                concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("qtext")),
            "query_id", "qtext", st, "bm25", k = 5))
        }),
        // token drift: both snapshots scale with the corpus; vocab-keyed
        // aggs + one vocab-sized full-outer join — expect ~linear
        "q187_token_drift" -> (() => force(ops.TextOps.tokenDrift(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "text", topM = 40))),
        // embedding drift: both snapshots scale; dim-keyed aggs collapse
        // map-side to 64 rows/task — expect ~scan-linear, the corpora
        // never shuffle
        "q198_embedding_drift" -> (() => force(ops.Similarity.embeddingDrift(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1), "embedding"))),
        // embedding SHAPE drift: same corpora-never-shuffle contract with
        // (dim x bins)-keyed aggs instead of dim-keyed — expect ~scan-linear
        "q200_embedding_shape_drift" -> (() => force(ops.Similarity.embeddingShapeDrift(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1), "embedding"))),
        // semantic decontamination: FIXED eval set (benchmarks don't grow
        // with the training corpus), corpus streams once with a map-side
        // running argmax — expect ~linear tracking corpus bytes
        "q204_semantic_decon" -> (() => force(ops.Similarity.semanticDecontaminate(
          emb, emb.where(col("vec_id") < 50), "vec_id", "vec_id",
          "embedding", threshold = 0.95))),
        // token-profile maintenance serve path: drift from two stored-shape
        // profiles — vocab-keyed aggs only; expect ~scan-linear in corpus
        "q206_token_drift_profiles" -> (() => force(ops.TextOps.tokenDriftFromProfiles(
          ops.TextOps.tokenProfile(docs.where(col("doc_id") % 2 === 0), "text"),
          ops.TextOps.tokenProfile(docs.where(col("doc_id") % 2 === 1), "text"),
          topM = 40))),
        // segmented drift: per-group vocab grows with the corpus (replica
        // families mint new tokens); per-group totals broadcast back over
        // the (group, token)-partitioned scoring (no group-wide window
        // buffering — the r16 shape) and the rank exchange is
        // WindowGroupLimit-prefiltered — expect ~linear, no funnel at any
        // vocab/group ratio
        "q207_token_drift_by_source" -> (() => force(ops.TextOps.tokenDriftByGroup(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "text", "source", topM = 10))),
        // segmented embedding drift: (group, dim)-keyed sums, group-
        // partitioned rank — expect ~scan-linear, corpora never shuffle.
        // The scaled frame drops the fixture's label column, so derive a
        // stable 8-group key: group count fixed while per-group rows
        // scale — the monitoring shape
        "q208_embedding_drift_by_label" -> (() => {
          def lab(df: DataFrame) = df.withColumn("label", (col("vec_id") % 8).cast("int"))
          force(ops.Similarity.embeddingDriftByGroup(
            lab(emb.where(col("vec_id") % 2 === 0)),
            lab(emb.where(col("vec_id") % 2 === 1)), "embedding", "label"))
        }),
        // segmented SHAPE drift: (group, dim, bin)-keyed counts + the two
        // group-partitioned windows — expect ~scan-linear like its mean twin
        "q211_embedding_shape_drift_by_label" -> (() => {
          def lab(df: DataFrame) = df.withColumn("label", (col("vec_id") % 8).cast("int"))
          force(ops.Similarity.embeddingShapeDriftByGroup(
            lab(emb.where(col("vec_id") % 2 === 0)),
            lab(emb.where(col("vec_id") % 2 === 1)), "embedding", "label"))
        }),
        // segmented PROFILE-SERVED token drift: the profile builds are the
        // corpus-scan cost (vocab-keyed aggs), the serve tail is
        // vocab-bounded — expect ~linear tracking the builds, same as q207
        "q212_token_drift_by_group_profiles" -> (() => force(
          ops.TextOps.tokenDriftByGroupFromProfiles(
            ops.TextOps.tokenProfileByGroup(
              docs.where(col("doc_id") % 2 === 0), "text", "source"),
            ops.TextOps.tokenProfileByGroup(
              docs.where(col("doc_id") % 2 === 1), "text", "source"),
            "source", topM = 10))),
        // segmented profile-served embedding monitors: builds collapse
        // map-side to (group, dim, bins) rows; the serve tails never touch
        // the corpora — expect ~scan-linear, same as the direct routes
        "q213_embedding_drift_by_group_profiles" -> (() => {
          def lab(df: DataFrame) = df.withColumn("label", (col("vec_id") % 8).cast("int"))
          force(ops.Similarity.embeddingDriftByGroupFromProfiles(
            ops.Similarity.embeddingProfileByGroup(
              lab(emb.where(col("vec_id") % 2 === 0)), "embedding", "label"),
            ops.Similarity.embeddingProfileByGroup(
              lab(emb.where(col("vec_id") % 2 === 1)), "embedding", "label"),
            "label"))
        }),
        "q214_embedding_shape_drift_by_group_profiles" -> (() => {
          def lab(df: DataFrame) = df.withColumn("label", (col("vec_id") % 8).cast("int"))
          force(ops.Similarity.embeddingShapeDriftByGroupFromProfiles(
            ops.Similarity.embeddingProfileByGroup(
              lab(emb.where(col("vec_id") % 2 === 0)), "embedding", "label"),
            ops.Similarity.embeddingProfileByGroup(
              lab(emb.where(col("vec_id") % 2 === 1)), "embedding", "label"),
            "label"))
        }),
        // drift attribution: drift stats collapse map-side to dim rows and
        // broadcast over ONE more posexplode pass of snapshot B whose rank
        // exchange is WindowGroupLimit-prefiltered — expect ~scan-linear
        // (three corpus passes, none shuffling at corpus width)
        "q219_embedding_drift_attribution" -> (() => force(
          ops.Similarity.embeddingDriftAttribution(
            emb.where(col("vec_id") % 2 === 0),
            emb.where(col("vec_id") % 2 === 1),
            "vec_id", "embedding", topD = 5, topK = 10))),
        // token-drift attribution: two vocab-keyed count passes + two
        // occurrence passes pruned by the broadcast drifted set BEFORE
        // their exchanges — expect ~scan-linear, no corpus-width shuffle
        "q221_token_drift_attribution" -> (() => force(
          ops.TextOps.tokenDriftAttribution(
            docs.where(col("doc_id") % 2 === 0),
            docs.where(col("doc_id") % 2 === 1),
            "doc_id", "text", topM = 10, topK = 5))),
        // segmented token attribution: the grouped scored frame + two
        // occurrence passes pruned by the <= groups*topM broadcast —
        // expect ~scan-linear like the global op
        "q239_token_drift_attribution_by_group" -> (() => force(
          ops.TextOps.tokenDriftAttributionByGroup(
            docs.where(col("doc_id") % 40 < 20),
            docs.where(col("doc_id") % 40 >= 20),
            "doc_id", "text", "source", topM = 5, topK = 3))),
        // segmented embedding attribution: <= groups*dim drifted stats
        // broadcast over ONE posexplode pass of B — expect ~scan-linear
        "q241_embedding_drift_attribution_by_group" -> (() => {
          def lab(df: DataFrame) = df.withColumn("label", (col("vec_id") % 8).cast("int"))
          force(ops.Similarity.embeddingDriftAttributionByGroup(
            lab(emb.where(col("vec_id") % 2 === 0)),
            lab(emb.where(col("vec_id") % 2 === 1)),
            "vec_id", "embedding", "label", topD = 3, topK = 5))
        }),
        // temperature mixture: the rate table stays one-row-per-source
        // (broadcast) however big the corpus gets; the keep filter is
        // map-side — expect ~linear wall tracking corpus bytes
        "q144_temperature_mixture" -> (() => force(ops.TextOps.temperatureMixture(
          docs.select(col("doc_id"), col("source")), "doc_id", "source",
          temperature = 0.5))),
        // length-bucketed batching: ONE exchange on the bucket id; buckets
        // grow with the corpus but stay bounded by the length distribution,
        // so the in-bucket windows parallelize — expect ~linear wall
        "q145_batch_by_length" -> (() => force(ops.Shards.batchByLength(
          docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars",
          batchSize = 8, bucketWidth = 50))),
        // span dedup under a PLANTED hot gram: 10^4 extra docs sharing one
        // boilerplate sentence give every one of its grams 10^4 corpus-wide
        // occurrences. The groupBy+semi-join occurrence count collapses the
        // hot key map-side (partial aggregation); the pre-r10 window form
        // buffered all 10^4 positions in ONE partition per gram. Expect the
        // same ~linear wall as q140 — a blow-up here means the skew path
        // regressed
        "q140h_dup_span_hotgram" -> (() => {
          val hot = spark.range(10000).select(
            (col("id") + lit(100L * nDocs * factor)).as("doc_id"),
            lit("boilerplate legal footer repeated verbatim across every scraped page here").as("text"))
          force(ops.Dedup.duplicateSpanStats(
            docs.select("doc_id", "text").unionByName(hot),
            "doc_id", "text", spanTokens = 8))
        }),
        // UniMax mixture: budget scales with the corpus (half of it), so
        // per-source allocations grow proportionally; the whole-source
        // prefix never shuffles and capped sources ride the bounded
        // reservoir (<= k pairs per map task) — expect ~linear wall with
        // NO |sources|-reducer funnel
        "q146_unimax_mixture" -> (() => force(ops.TextOps.unimaxMixture(
          docs.select(col("doc_id"), col("source")), "doc_id", "source",
          budget = math.max(1L, nDocsDir / 2)))),
        // C4 rules: zero-shuffle codegen projection — wall tracks bytes
        "q147_c4_rules" -> (() => force(ops.TextOps.c4Rules(
          docs, "doc_id", "text"))),
        // DSIR: FIXED target (family-0 src0/src1), corpus scales; the one
        // corpus explode persists and feeds histogram + scoring join, so
        // expect ~linear wall (the pre-r10 double pass paid it twice)
        "q148_dsir_scores" -> (() => force(ops.TextOps.dsirScores(
          docs, docs.where(col("doc_id") < nDocs &&
            col("source").isin("src0", "src1")),
          "doc_id", "text", buckets = 512))),
        // full-epoch UniMax: budget = 2x the corpus forces genuine epoch
        // repetition at every scale — complete epochs are a broadcast join
        // + map-side explode, the one partial epoch per source rides the
        // bounded reservoir; expect ~linear wall in corpus size
        "q151_unimax_epochs" -> (() => force(ops.TextOps.unimaxEpochsMixture(
          docs.select(col("doc_id"), col("source")), "doc_id", "source",
          budget = math.max(1L, nDocsDir * 2), maxEpochs = 3))),
        // fused filter pipeline: four rule families, one zero-shuffle
        // projection — wall tracks corpus bytes like q147
        "q150_filter_pipeline" -> (() => force(ops.TextOps.filterPipeline(
          docs, "doc_id", "text", wantedLangs = Seq("en", "de")))),
        // BPE training: ONE corpus scan (the word-count shuffle); the 8
        // merge rounds then run on the persisted dict. Replica prefixes
        // grow the vocab ~linearly with k, so the per-round pair aggs grow
        // too — expect ~linear wall dominated by the corpus scan
        "q154_bpe_learn" -> (() => {
          ops.TextOps.learnBpeMerges(docs, "text", numMerges = 8).collect()
          ()
        }),
        // BPE encoding with a PRE-TRAINED merge table (the production
        // shape: train once, encode everywhere): a zero-shuffle chain of
        // literal replaces — wall tracks corpus bytes exactly
        "q155_bpe_encode" -> (() => force(ops.TextOps.applyBpeMerges(
          docs, "doc_id", "text", bpeMerges8))),
        // exact unbounded percentile: a constant number of bins-only
        // aggregation passes regardless of rows — expect ~scan-linear wall,
        // never rank-sort behavior
        "q160_exact_percentile" -> (() => {
          val out = ops.Stats.exactPercentilesUnbounded(li, "l_extendedprice",
            Seq(0.25, 0.5, 0.75, 0.99))
          assert(out.count() == 1L)
        }),
        // map-side chunk explode: data growth is the overlap duplication
        // only — expect linear
        "q163_chunk_documents" -> (() => force(ops.TextOps.chunkDocuments(
          docs, "doc_id", "text", 32, 8))),
        // boilerplate line strip: line-hash agg + broadcast hot set + doc
        // regroup — the replica families each plant the same banner text
        // (prefixed tokens differ, the banner literal doesn't), so the hot
        // set stays tiny while the corpus scales
        "q165_boilerplate_lines" -> (() => {
          val lined = docs.select(col("doc_id"),
            concat_ws("\n", lit("subscribe banner"), col("text"),
              lit("cookie banner")).as("text"))
          force(ops.Dedup.stripFrequentLines(lined, "doc_id", "text", 5))
        }),
        // unigram training: corpus touched once for the word dict; EM
        // rounds run over the vocabulary-sized dict (replica prefixes grow
        // the dict ~linearly with N here — the worst case; a natural
        // corpus' dict grows sublinearly)
        "q166_unigram_learn" -> (() => {
          val v = ops.TextOps.learnUnigramVocab(docs, "text", 40,
            maxPieceLen = 4, rounds = 2, seedMultiplier = 4, maxWordLen = 16)
          assert(v.count() >= 24)
        }),
        // unigram encoding with a PRE-TRAINED vocab (production shape,
        // like q155): one map-side Viterbi pass — expect linear
        "q167_unigram_encode" -> (() => force(ops.TextOps.encodeUnigram(
          docs, "doc_id", "text", unigramVocab40, 4, 16))),
        // grouped exact percentiles: |groups| is FIXED (3 return flags)
        // while rows scale — passes stay bins-only, expect ~scan-linear
        "q173_grouped_percentile" -> (() => {
          val out = ops.Stats.groupedSortPercentiles(
            li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.95))
          assert(out.count() >= 1L)
        }),
        // the narrowing tier under FORCED engagement (sort cap below the
        // group sizes): rounds are bins-only passes — expect ~linear in
        // scanned rows, not in rounds
        "q173_narrowing_tier" -> (() => {
          val out = ops.Stats.groupedExactPercentilesUnbounded(
            li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.95),
            maxSortGroup = 1L << 16)
          assert(out.count() >= 1L)
        }),
        // EWMA fold: replicas add USERS (groups), not events per user —
        // expect linear
        "q175_ewma" -> (() => force(ops.Events.ewmaPerKey(
          ev, "user_id", "ts", "event_id", "value", 0.25))),
        // exact KS drift: one pooled distinct-value exchange + the
        // two-level distributed prefix sum (≤ rangeParts offsets) —
        // expect ~scan-linear, no single-task cumulative however wide
        // the value column gets
        "q225_ks_drift" -> (() => force(ops.Stats.ksDrift(
          ev.where(col("user_id") % 2 === 0),
          ev.where(col("user_id") % 2 === 1), "value"))),
        // segmented KS: same shape range-keyed on (group, value); the
        // grouped offsets/totals stay (groups × parts)-bounded
        "q227_ks_drift_by_group" -> (() => force(ops.Stats.ksDriftByGroup(
          ev.where(col("user_id") % 2 === 0),
          ev.where(col("user_id") % 2 === 1), "value", "event_type"))),
        // drift timeline: ONE event-sized (bucket, cat) count; the spine
        // and scoring run on (buckets × categories)-bounded frames —
        // expect ~scan-linear
        "q229_category_drift_timeline" -> (() => force(
          ops.Events.categoryDriftTimeline(ev, "event_type", "ts",
            ev.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
            bucketSec = 604800L))),
        // segmented binned scalar drift: two (group, bin) counts (the
        // corpus never shuffles), totals broadcast back, the rank window
        // over ≤ bins rows/group — expect ~scan-linear
        "q247_numeric_shape_drift_by_group" -> (() => force(
          ops.Stats.numericShapeDriftByGroup(
            ev.where(col("user_id") % 2 === 0),
            ev.where(col("user_id") % 2 === 1), "value", "event_type"))),
        // numeric timeline: ONE event-sized (bucket, bin) count; spine and
        // scoring (buckets × bins)-bounded — expect ~scan-linear, q229's
        // shape with bins as the categories
        "q251_numeric_drift_timeline" -> (() => force(
          ops.Events.numericDriftTimeline(ev, "value", "ts",
            ops.Stats.numericProfile(ev, "value"), bucketSec = 604800L))),
        // segmented numeric timeline: ONE event-sized (group, bucket, bin)
        // count; group-keyed spine — expect ~scan-linear
        "q262_numeric_drift_timeline_by_group" -> (() => force(
          ops.Events.numericDriftTimelineByGroup(ev, "value", "ts",
            "event_type",
            ops.Stats.numericProfileByGroup(ev, "value", "event_type"),
            bucketSec = 604800L))),
        // embedding timeline: ONE vector-sized (bucket, pos, bin) count
        // (posexplode map-side partial agg); spine and scoring
        // (buckets × dim·bins)-bounded — expect ~scan-linear. Replicas
        // extend the id range, so the TIME AXIS grows linearly while the
        // cell universe stays fixed — the shape of a dashboard aging
        "q268_embedding_drift_timeline" -> (() => {
          val embTs = emb.withColumn("ts",
            timestamp_micros(col("vec_id") * lit(3600000000L)))
          force(ops.Events.embeddingDriftTimeline(embTs, "embedding", "ts",
            ops.Similarity.embeddingProfile(emb, "embedding"),
            bucketSec = 604800L))
        }),
        // segmented embedding timeline: group count FIXED (8 labels) while
        // buckets grow with the id range and cells stay (dim·bins)-bounded
        // — spine strictly linear; expect ~scan-linear like the global leg
        "q271_embedding_timeline_by_group" -> (() => {
          def lab(df: DataFrame) = df.withColumn("label", (col("vec_id") % 8).cast("int"))
          val embTs = lab(emb).withColumn("ts",
            timestamp_micros(col("vec_id") * lit(3600000000L)))
          force(ops.Events.embeddingDriftTimelineByGroup(embTs, "embedding",
            "ts", "label",
            ops.Similarity.embeddingProfileByGroup(lab(emb), "embedding", "label"),
            bucketSec = 604800L))
        }),
        // embedding MEAN-shift timeline: the same one vector-sized pass
        // folded to (bucket, dim) — expect ~scan-linear
        "q281_embedding_meanshift_timeline" -> (() => {
          val embTs = emb.withColumn("ts",
            timestamp_micros(col("vec_id") * lit(3600000000L)))
          force(ops.Events.embeddingMeanShiftTimeline(embTs, "embedding", "ts",
            ops.Similarity.embeddingProfile(emb, "embedding"),
            bucketSec = 604800L))
        }),
        // segmented timeline: ONE event-sized (group, bucket, cat) count;
        // every downstream join keyed group-first — expect ~scan-linear
        // (replicas add USERS, so cohorts keep their shape)
        "q256_category_drift_timeline_by_group" -> (() => {
          val evc = ev.withColumn("cohort", col("user_id") % 4)
          force(ops.Events.categoryDriftTimelineByGroup(
            evc, "event_type", "ts", "cohort",
            evc.where(col("event_type").isNotNull)
              .groupBy(col("cohort"), col("event_type"))
              .agg(count(lit(1)).as("n")),
            bucketSec = 604800L))
        }),
        // PQ encode: broadcast codebook + per-partition loop — expect
        // linear in vectors (the codebook collect is hoisted: production
        // trains once and encodes many batches)
        "q170_pq_encode" -> (() => force(ops.Similarity.pqEncode(
          emb, "vec_id", "embedding", 8, 16, 64, pqBook))),
        // ADC top-k: fixed 5-query set, corpus side reads codes only —
        // expect linear in corpus with a tiny constant
        "q171_pq_adc" -> (() => force(ops.Similarity.pqAdcTopK(
          emb.where(col("vec_id") < 5), emb, "vec_id", "vec_id",
          "embedding", 10, 8, 16, 64))),
        // the FULL IVF-PQ composition (build + probe + ADC rank): the
        // per-call derivations are corpus-linear one-pass jobs over the
        // shared persisted quantized frame, the probe join reads
        // nprobe/nlist of the codes — expect ~linear; the PERSISTED index
        // route amortizes everything but the probe (q180)
        "q176_ivf_pq" -> (() => force(ops.Similarity.ivfPqTopK(
          emb.where(col("vec_id") < 10), emb, "vec_id", "vec_id",
          "embedding", 5, 16, 4, 8, 16, 64))),
        // incremental contract: a FIXED batch (1/5 of ONE replica family)
        // matched against the PRE-STORED profile of everything else — the
        // per-batch cost should stay ~flat while the corpus scales
        "q118_incremental" -> (() => {
          val batch = docs.where(pmod(col("doc_id"), lit(5)) === 4 &&
            col("doc_id") < nDocs)
          val prof = spark.read.parquet(s"$dir/profile")
          force(ops.Dedup.minhashNewVsCorpus(batch, "doc_id", "text",
            prof, "doc_id", "__sig", "__shingles", threshold = 0.2))
        }),
        "q119_heavy_hitters" -> (() => force(ops.Stats.heavyHitters(
          docs.select(explode(ops.Dedup.tokens(col("text"))).as("token")),
          "token", k = 199))),
        // fixed eval set (family 0 only), corpus scales: the sketch build
        // stays flat and the map-side probe should track corpus bytes
        "q133_bloom_decontaminate" -> (() => {
          val evalSet = docs.where(col("doc_id") % 10 === 9 && col("doc_id") < nDocs)
          force(ops.TextOps.bloomDecontaminate(docs, evalSet,
            "doc_id", "text", "doc_id", "text", n = 3,
            expectedEvalGrams = 100000L, fpp = 0.01))
        }),
        "q131_gopher_rules" -> (() => force(ops.TextOps.gopherRules(
          docs, "doc_id", "text"))),
        // persistent ANN serving: a FIXED 100-query set against the stored
        // index. Per-query candidate IO = nprobe probed lists of ~sqrt(N)
        // vectors each (autoNlist) — expect ~sqrt growth, NOT linear
        "q134_indexed_search" -> (() => {
          val store = new core.BucketedStore(s"$dir/ivfidx",
            numBuckets = ops.Similarity.autoNlist(nEmb))(spark)
          force(ops.Similarity.searchIndexed(
            emb.where(col("vec_id") < 100), "vec_id", "embedding",
            store, "ann", k = 5, nprobe = 4))
        }),
        // window-rank vs bounded-reservoir sampling, HEAD TO HEAD on the
        // FACT table (few groups, many rows — the 100 TB pathology): the
        // window form shuffles every row into 3 l_returnflag partitions and
        // ranks them on 3 reducers; the aggregate form moves <= k pairs per
        // group per task. Same rows out (q136 shares q111's oracle).
        "q111_stratified_window" -> (() => force(ops.Stats.stratifiedSample(
          li.withColumn("lid", col("l_orderkey") * 10 + col("l_linenumber")),
          "l_returnflag", "lid", n = 20)
          .select("l_returnflag", "lid", "sample_rank"))),
        "q136_stratified_bounded" -> (() => force(ops.Stats.stratifiedSampleBounded(
          li.withColumn("lid", col("l_orderkey") * 10 + col("l_linenumber")),
          "l_returnflag", "lid", n = 20))),
        // O(batch) index growth: a FIXED 500-vector batch (fresh ids)
        // assigned against the stored centroids and dir-appended — no
        // existing index file read or rewritten, so expect ~flat
        "q135_index_append" -> (() => {
          val store = new core.BucketedStore(s"$dir/ivfidx",
            numBuckets = ops.Similarity.autoNlist(nEmb))(spark)
          val batch = emb.where(col("vec_id") < 500)
            .select((col("vec_id") + lit(10000000L)).as("vec_id"), col("embedding"))
          ops.Similarity.appendToVectorIndex(batch, "vec_id", "embedding",
            store, "annx")
        }),
        // index grown through APPENDS with geometry FROZEN at the bootstrap
        // nlist: per-list size grows linearly with the corpus, so CANDIDATE
        // IO per query does too — the degeneracy relist maintenance fixes.
        // 1000 queries (vs q134's 100): per-run fixed cost (probe TopK, two
        // store opens, one parquet dir per touched bucket) is amortized so
        // the scoring volume — the term that grows — carries the timing
        "q134f_frozen_append_search" -> (() => {
          val store = new core.BucketedStore(s"$dir/ivfidx",
            numBuckets = ops.Similarity.autoNlist(nEmb))(spark)
          force(ops.Similarity.searchIndexed(
            emb.where(col("vec_id") < 1000), "vec_id", "embedding",
            store, "annf", k = 5, nprobe = 4))
        }),
        // the SAME append-grown index after relistVectorIndex at
        // autoNlist(N_now): candidate IO per query tracks sqrt(N)
        "q134g_relisted_search" -> (() => {
          val store = new core.BucketedStore(s"$dir/ivfidx",
            numBuckets = ops.Similarity.autoNlist(nEmb))(spark)
          force(ops.Similarity.searchIndexed(
            emb.where(col("vec_id") < 1000), "vec_id", "embedding",
            store, "anng", k = 5, nprobe = 4))
        }),
        // per-cluster canonical selection over the full near-dup pipeline
        // (pairs -> connected components -> keep-policy): the canonical
        // layer itself is ONE cluster-keyed exchange shared by the rank
        // window and the member count — expect the pipeline's ~linear wall
        "q181_cluster_canonical" -> (() => force(ops.Dedup.canonicalPerCluster(
          docs.withColumn("__score", length(col("text"))), "doc_id", "__score",
          ops.Dedup.nearDupClusters(ops.Dedup.minhashNearDupPairs(
            docs, "doc_id", "text", n = 3, numHashes = 12, bands = 4,
            threshold = 0.2))))),
        // k-center greedy at FIXED k while the corpus scales: each round
        // folds one fused dot into the accumulated-min frame + one
        // TakeOrdered argmax — expect ~linear in rows
        "q183_kcenter_k16" -> (() =>
          assert(ops.Similarity.kCenterGreedy(
            emb, "vec_id", "embedding", 16).count() == 16L)),
        // k-RATIO probe (read k64.t1 / k16.t1, not the corpus ratio): 4x
        // the rounds must cost ~4x — the accumulated-min column makes a
        // round's work independent of r, where the r12 shape recomputed
        // all r centers per round (O(k²·N) total)
        "q183_kcenter_k64" -> (() =>
          assert(ops.Similarity.kCenterGreedy(
            emb, "vec_id", "embedding", 64).count() == 64L))
      ).filter { case (name, _) => opFilter.forall(_.contains(name)) }
        .map { case (name, thunk) =>
        thunk() // warmup (codegen + plan); measured run follows
        // drop the warmup's persisted intermediates BEFORE timing: ops
        // persist profile frames, and the measured run's plan-identical
        // frames would silently substitute the warmup's InMemoryRelation —
        // timing a cache read instead of the claimed realistic scan
        spark.catalog.clearCache()
        val t = sec(thunk())
        println(s"""{"op":"$name","dir":"$dir","sec":${"%.3f".formatLocal(java.util.Locale.ROOT, t)}}""")
        name -> t
      }.toMap
    }

    val d1 = prep(1)
    val dN = prep(factor)
    val t1 = run(d1)
    val tN = run(dN)
    val summary = t1.keys.toSeq.sorted.map { k =>
      val ratio = tN(k) / t1(k)
      s""""$k":{"t1":${"%.3f".formatLocal(java.util.Locale.ROOT, t1(k))},"t$factor":${"%.3f".formatLocal(java.util.Locale.ROOT, tN(k))},"ratio":${"%.2f".formatLocal(java.util.Locale.ROOT, ratio)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_rehearsal","factor":$factor,"base":"$baseDir","ops":$summary}""")
    spark.stop()
  }
}
