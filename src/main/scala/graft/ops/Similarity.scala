package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.TrackedCache.TrackedDataset

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star surface; the reference stack's Ray Data declares Arrow tensor
  * columns — reference: examples/pyproject.toml:78 — but no similarity ops).
  *
  * Numeric determinism: float dot products are order-dependent, so for
  * oracle-checkable results every vector is first quantized to integer
  * micro-units (`round(x * 1e6)`). Dot products and norms are then EXACT
  * int64 arithmetic (64 dims × (3e5)² ≈ 6e12 ≪ 2^63) and the final
  * `dot / sqrt(double(n_a)*double(n_b))` is two correctly-rounded IEEE ops —
  * bit-identical in any engine. Quantization error (~1e-6 relative) is far
  * below any meaningful similarity threshold.
  *
  * Performance: the embedding dimension is known to callers, so every inner
  * loop (quantize, dot, plane projections) is UNROLLED into flat expression
  * trees — whole-stage-codegen'd, no interpreted higher-order functions on
  * the hot path. Norms are computed once per row, never per pair. The ±1
  * hyperplane matrix is constant at plan time and is precomputed on the
  * driver (same md5 bit rule the SQL oracle uses).
  *
  * Scale design:
  *  - Brute force is the correctness baseline: a broadcast of the (small)
  *    query set against the corpus — never corpus×corpus.
  *  - The LSH path blocks the corpus into random-hyperplane sign buckets:
  *    only same-bucket pairs are scored; the shuffle is keyed on the
  *    bucket id. Deterministic, so still oracle-checkable.
  */
object Similarity {

  /** Quantize float[dim] to exact integer micro-units — ONE fused native
    * expression ([[graft.expressions.QuantizeVec]]; bit-identical to the
    * historical 64-node unrolled `array(round(get(v,i)·1e6)…)` tree, whose
    * SIZE — not runtime — dominated short similarity jobs through
    * analysis/canonicalization/Janino). */
  def quantize(vec: Column, dim: Int): Column =
    org.apache.spark.sql.GraftColumn.of(graft.expressions.QuantizeVec(
      org.apache.spark.sql.GraftColumn.expr(vec), dim))

  /** Exact int64 dot product — fused native expression (tight primitive
    * loop; tiny codegen footprint vs a 64-term unrolled tree whose Janino
    * compilation dominates short jobs). `dim` kept for API stability. */
  def dotQ(a: Column, b: Column, dim: Int): Column =
    org.apache.spark.sql.GraftColumn.of(graft.expressions.ArrayDotProduct(
      org.apache.spark.sql.GraftColumn.expr(a), org.apache.spark.sql.GraftColumn.expr(b)))

  /** Cosine from a per-pair dot and per-ROW norms (norms computed once per
    * vector before any join; int64 → double conversions are exact, the norm
    * PRODUCT would overflow int64 so each factor converts first). */
  private def cosineFromParts(dot: Column, nl: Column, nr: Column): Column =
    when(nl === 0 || nr === 0, lit(0.0))
      .otherwise(dot.cast("double") / sqrt(nl.cast("double") * nr.cast("double")))

  /** Scala-side mirror of [[Dedup.md5Hash60]] — used to precompute the
    * constant hyperplane sign matrix on the driver. */
  private def md5Hash60Scala(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Deterministic ±1 hyperplane component for (plane, dim index) — the low
    * bit of md5("plane:<p>:<i>"), identical to the SQL oracle's rule. */
  def planeSign(plane: Int, i: Int): Long =
    (md5Hash60Scala(s"plane:$plane:$i") & 1L) * 2 - 1

  /** Random-hyperplane LSH bucket id: `planes` sign bits packed into a long —
    * bit p is (±1-plane-p · vec) > 0. Signs are plan-time literals; each
    * plane projection is an unrolled codegen'd sum. */
  def lshBucket(qvec: Column, planes: Int, dim: Int): Column = {
    // each plane is a CONSTANT ±1 vector → dot against a literal array via
    // the fused native expression (one tight loop per plane)
    def planeDot(p: Int): Column =
      dotQ(qvec, typedLit((0 until dim).map(i => planeSign(p, i)).toArray), dim)
    (0 until planes).map(p => when(planeDot(p) > 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** The embedding family's ONE shared component-binning expression —
    * every monitor, profile, and timeline bins a 1e-6-quantized component
    * through this: floor(q / binWidthMicro) clamped to
    * [-bins/2, bins/2-1] (tails fold into the edge buckets), PADDED
    * positions (null components) land in bin 0. One expression, so the
    * direct, profile-served, and timeline routes cannot drift on bin
    * edges (the scalar family's `Stats.microBin` discipline). The double
    * division is exact for |q| ≤ 2³¹ at any width ≥ 1 — the quotient's
    * distance to an integer boundary (≥ 1/width) dwarfs the half-ulp. */
  private[graft] def componentBin(q: Column, bins: Int,
      binWidthMicro: Long): Column = {
    val hb = bins / 2
    least(greatest(floor(coalesce(q, lit(0L)) / lit(binWidthMicro)),
      lit(-hb.toLong)), lit(hb - 1L))
  }

  /** The embedding family's shared bin/dim/width contract checks. */
  private[graft] def requireEmbeddingBinSpec(dim: Int, bins: Int,
      binWidthMicro: Long): Unit = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    require(bins >= 2 && bins <= 256 && bins % 2 == 0,
      s"bins must be even and in [2, 256], got $bins")
    require(binWidthMicro >= 1,
      s"binWidthMicro must be >= 1, got $binWidthMicro")
  }

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * corpus vectors. The query side is broadcast (queries ≪ corpus); the
    * corpus streams through once; per-query top-k is a keyed window, so no
    * global sort and no corpus×corpus blow-up. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     queryIdCol: String, corpusIdCol: String, vecCol: String,
                     k: Int, dim: Int = 64): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), quantize(col(vecCol), dim).as("__qv"))
      .withColumn("__qn", dotQ(col("__qv"), col("__qv"), dim))
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
    val scored = c.join(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        cosineFromParts(dotQ(col("__qv"), col("__cv"), dim), col("__qn"), col("__cn")).as("cosine"))
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("corpus_id").asc), k, rankCol = "rank")
  }

  /** LSH-bucketed cosine top-k: score only same-bucket pairs. Approximate
    * (recall < 1 across bucket boundaries) but the shuffle is keyed on the
    * bucket id — the 100 TB path. Deterministic, so still oracle-checkable. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              queryIdCol: String, corpusIdCol: String, vecCol: String,
              k: Int, planes: Int = 4, dim: Int = 64): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), quantize(col(vecCol), dim).as("__qv"))
      .withColumn("__bucket", lshBucket(col("__qv"), planes, dim))
      .withColumn("__qn", dotQ(col("__qv"), col("__qv"), dim))
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__bucket", lshBucket(col("__cv"), planes, dim))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
    val scored = c.join(q, Seq("__bucket"))
      .select(col("query_id"), col("corpus_id"),
        cosineFromParts(dotQ(col("__qv"), col("__cv"), dim), col("__qn"), col("__cn")).as("cosine"))
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("corpus_id").asc), k, rankCol = "rank")
  }

  /** Deterministic seed centroids for the IVF family: the `nlist` corpus
    * vectors with the SMALLEST ids under the id column's own ordering —
    * a global top-k (TakeOrderedAndProject: per-partition heads, one small
    * merge; no full sort, no single-partition shuffle) — densified to
    * `cent_id` 0..nlist-1. Works for ANY orderable id type (strings, UUIDs,
    * sparse hashes); for a dense numeric 0..N-1 corpus it reproduces the
    * historical `id < nlist` seeding exactly (cent_id == corpus_id), so the
    * q85 oracle stays bit-identical. NULL ids order last (never seeded).
    * The row_number window runs over the already-limited nlist-row frame. */
  private def seedCentroids(c: DataFrame, nlist: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("corpus_id").asc_nulls_last)
    c.orderBy(col("corpus_id").asc_nulls_last).limit(nlist)
      .withColumn("cent_id", row_number().over(w).cast("long") - 1)
      .select(col("cent_id"), col("__cv").as("__centv"), col("__cn").as("__centn"))
  }

  /** Lloyd-refined IVF centroids, fully deterministic: seeds are the
    * `nlist` smallest-id corpus vectors ([[seedCentroids]] — any orderable
    * id type); each iteration assigns every corpus vector to
    * its nearest centroid (broadcast join — never corpus×corpus) and
    * recomputes each centroid as the per-dimension MEAN re-quantized to
    * int64, so downstream dot products stay exact integer arithmetic.
    * Per-iteration reduction is nlist×dim rows (1k-ish) — driver-safe at any
    * corpus size. Empty clusters keep their previous centroid. */
  def kmeansCentroids(corpus: DataFrame, corpusIdCol: String, vecCol: String,
                      nlist: Int, iters: Int, dim: Int = 64): Seq[(Long, Array[Long])] = {
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try kmeansCentroidsQ(c, nlist, iters, dim) finally c.unpersist()
  }

  /** Lloyd loop over an ALREADY-QUANTIZED `(corpus_id, __cv, __cn)` frame —
    * shared by the raw-vector entry point above and [[relistVectorIndex]],
    * whose input is the stored index's quantized vectors (re-running the
    * float quantizer over longs would be wrong). Caller persists `c`. */
  private def kmeansCentroidsQ(c: DataFrame, nlist: Int, iters: Int,
                               dim: Int): Seq[(Long, Array[Long])] = {
    // every Lloyd round collects nlist×dim per-(centroid,dim) sum rows to
    // the driver — ~16 MB at the √N-for-10⁹-vectors operating point, but
    // unbounded nlist would silently turn that into a driver OOM. Loud
    // guard, same discipline as the histogram cardinality guard in Stats.
    require(nlist.toLong * dim <= 16L * 1000 * 1000,
      s"nlist*dim = ${nlist.toLong * dim} exceeds the 16M-row Lloyd driver-reduction cap " +
        s"(nlist=$nlist, dim=$dim): use a smaller centroid count — nlist ≈ sqrt(N) " +
        "is the intended operating point")
    val spark = c.sparkSession
    var cents: Seq[(Long, Array[Long])] = seedCentroids(c, nlist)
      .select(col("cent_id"), col("__centv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1).toSeq
    for (_ <- 0 until iters) {
      val centDf = spark.createDataFrame(cents.map { case (id, v) => (id, v.toSeq) })
        .toDF("cent_id", "__centv")
        .withColumn("__centn", dotQ(col("__centv"), col("__centv"), dim))
      val assigned = TopK.perGroup(
        c.join(broadcast(centDf))
          .select(col("corpus_id"), col("__cv"), col("cent_id"),
            cosineFromParts(dotQ(col("__cv"), col("__centv"), dim),
              col("__cn"), col("__centn")).as("__sim")),
        Seq("corpus_id"), Seq(col("__sim").desc, col("cent_id").asc), 1, rankCol = "__r")
      // per-(centroid, dim) exact long sums; re-quantized mean on the driver
      val sums = assigned
        .select(col("cent_id"), posexplode(col("__cv")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      val byCent = sums.groupBy(_._1)
      cents = cents.map { case (id, prev) =>
        byCent.get(id) match {
          case None => id -> prev // empty cluster: keep the old centroid
          case Some(rows) =>
            val v = new Array[Long](dim)
            rows.foreach { case (_, pos, s, n) => v(pos) = math.round(s.toDouble / n) }
            id -> v
        }
      }
    }
    cents
  }

  /** IVF-flat ANN top-k: corpus is partitioned into `nlist` inverted lists by
    * nearest centroid; a query scores only the lists of its `nprobe` nearest
    * centroids. Centroids are the `nlist` smallest-id corpus vectors
    * ([[seedCentroids]] — deterministic for ANY orderable id type, including
    * strings/UUIDs, and oracle-reproducible); `refineIters > 0` runs
    * [[kmeansCentroids]] Lloyd rounds first — still deterministic, better
    * recall, but no longer expressible as a short SQL oracle.
    *
    * Scale shape: assignment is corpus × nlist (nlist ≈ √N keeps it linear in
    * N·√N with a BROADCAST of the small centroid set — never corpus×corpus);
    * the probe join is keyed on the centroid id, so each query touches
    * nprobe/nlist of the corpus. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              queryIdCol: String, corpusIdCol: String, vecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4, dim: Int = 64,
              refineIters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
    val cent =
      if (refineIters <= 0) seedCentroids(c, nlist)
      else
        spark.createDataFrame(
            kmeansCentroids(corpus, corpusIdCol, vecCol, nlist, refineIters, dim)
              .map { case (id, v) => (id, v.toSeq) })
          .toDF("cent_id", "__centv")
          .withColumn("__centn", dotQ(col("__centv"), col("__centv"), dim))
    // inverted lists: nearest centroid per corpus vector (ties -> smaller
    // id) — the same assignment the persistent index materializes
    val lists = assignToLists(c, cent, dim)
    // probes: nprobe nearest centroids per query
    val q = queries.select(col(queryIdCol).as("query_id"), quantize(col(vecCol), dim).as("__qv"))
      .withColumn("__qn", dotQ(col("__qv"), col("__qv"), dim))
    val probes = TopK.perGroup(
      q.join(broadcast(cent))
        .select(col("query_id"), col("__qv"), col("__qn"), col("cent_id"),
          cosineFromParts(dotQ(col("__qv"), col("__centv"), dim), col("__qn"), col("__centn")).as("__psim")),
      Seq("query_id"), Seq(col("__psim").desc, col("cent_id").asc), nprobe, rankCol = "__pr")
      .select(col("query_id"), col("__qv"), col("__qn"), col("cent_id"))
    // score only candidates in probed lists (join keyed on cent_id)
    val scored = probes.join(lists, Seq("cent_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineFromParts(dotQ(col("__qv"), col("__cv"), dim), col("__qn"), col("__cn")).as("cosine"))
    // no distinct needed: every corpus vector lives in exactly ONE list
    // (assignment rank=1 with a total tiebreak)
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("corpus_id").asc), k, rankCol = "rank")
  }

  /** Persistent IVF ANN index — the serving-scale path, mirroring the LSH
    * dedup index ([[Dedup.indexCorpus]]): inverted lists land in a
    * [[graft.core.BucketedStore]] BUCKETED BY LIST ID, so a query's top-k
    * reads only its `nprobe` probed buckets (`readTouched` — IO independent
    * of corpus size) and new vectors append O(batch) (`appendBucketed`,
    * compact on a cadence via `store.compactBuckets`). Centroids persist
    * alongside so every later search and append shares the exact assignment
    * geometry the index was built with. */
  def indexVectors(corpus: DataFrame, corpusIdCol: String, vecCol: String,
                   store: graft.core.BucketedStore, feature: String,
                   nlist: Int = 16, dim: Int = 64, refineIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
    val cent =
      if (refineIters <= 0) seedCentroids(c, nlist)
      else
        spark.createDataFrame(
            kmeansCentroids(corpus, corpusIdCol, vecCol, nlist, refineIters, dim)
              .map { case (id, v) => (id, v.toSeq) })
          .toDF("cent_id", "__centv")
          .withColumn("__centn", dotQ(col("__centv"), col("__centv"), dim))
    store.write(assignToLists(c, cent, dim), s"${feature}_lists", Seq("cent_id"))
    writeCentroids(store, feature, cent)
  }

  /** Centroid persistence: the table is nlist TINY rows read in full by
    * EVERY search/append, so it lands in ONE bucket (constant routing key)
    * — bucketing it by cent_id would open O(nlist) parquet files per query,
    * a per-call fixed cost that grows with the index (measured: +1.3 s per
    * search at nlist=387 vs one file). */
  private def writeCentroids(store: graft.core.BucketedStore, feature: String,
                             cent: DataFrame): Unit = {
    store.write(cent.select(col("cent_id"), col("__centv")).withColumn("__ck", lit(0)),
      s"${feature}_centroids", Seq("__ck"))
    ()
  }

  /** Nearest-centroid assignment shared by build/append: every vector joins
    * the broadcast centroid set and keeps exactly ONE list (rank-1 with a
    * total tiebreak) — never corpus×corpus. */
  private def assignToLists(c: DataFrame, cent: DataFrame, dim: Int): DataFrame = {
    val assigned = c.join(broadcast(cent))
      .select(col("corpus_id"), col("__cv"), col("__cn"), col("cent_id"),
        cosineFromParts(dotQ(col("__cv"), col("__centv"), dim), col("__cn"), col("__centn")).as("__csim"))
    TopK.perGroup(assigned, Seq("corpus_id"),
      Seq(col("__csim").desc, col("cent_id").asc), 1, rankCol = "__cr")
      .select(col("cent_id"), col("corpus_id"), col("__cv"), col("__cn"))
  }

  /** O(batch) index growth: assign the new vectors against the STORED
    * centroids and append to the touched list buckets only — no existing
    * index file is read or rewritten, so ingest cost is independent of
    * index size. */
  def appendToVectorIndex(newVecs: DataFrame, idCol: String, vecCol: String,
                          store: graft.core.BucketedStore, feature: String,
                          dim: Int = 64): Unit = {
    val cent = store.read(s"${feature}_centroids", Seq("cent_id"))
      .select(col("cent_id"), col("__centv"))
      .withColumn("__centn", dotQ(col("__centv"), col("__centv"), dim))
    val c = newVecs.select(col(idCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
    store.appendBucketed(s"${feature}_lists", assignToLists(c, cent, dim), Seq("cent_id"))
  }

  /** Index MAINTENANCE: re-list the persistent IVF index at the geometry the
    * CURRENT corpus size calls for — the missing half of the append cycle.
    * [[appendToVectorIndex]] keeps the build-time `nlist` forever, so an
    * index grown 100× through appends has 100×-longer lists and per-query
    * candidate IO grows linearly — exactly the degeneracy [[autoNlist]]
    * prevents at build time. Run this on a cadence (the
    * `compactBuckets`/`optimizeZorder` pattern): it re-seeds `nlist =
    * autoNlist(N_now)` centroids (or Lloyd-refines them with
    * `refineIters > 0`) from the STORED quantized vectors and rewrites both
    * index tables as new store versions — time travel to the old geometry
    * stays free, and the full write folds any append dirs, so a relist
    * subsumes that cycle's compaction.
    *
    * Scale shape: one scan of the stored lists (the corpus, already
    * quantized — no re-quantization, no raw-vector re-read), one broadcast
    * assignment pass at the new `nlist` — the same O(N·√N) work as a fresh
    * build, amortized over the appends since the last relist. Returns the
    * new list count. */
  def relistVectorIndex(store: graft.core.BucketedStore, feature: String,
                        nlist: Int = 0, dim: Int = 64,
                        refineIters: Int = 0): Int = {
    val c = store.read(s"${feature}_lists", Seq("cent_id"))
      .select(col("corpus_id"), col("__cv"), col("__cn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val spark = c.sparkSession
      val nl = if (nlist > 0) nlist else autoNlist(c.count())
      val cent =
        if (refineIters <= 0) seedCentroids(c, nl)
        else
          spark.createDataFrame(
              kmeansCentroidsQ(c, nl, refineIters, dim)
                .map { case (id, v) => (id, v.toSeq) })
            .toDF("cent_id", "__centv")
            .withColumn("__centn", dotQ(col("__centv"), col("__centv"), dim))
      store.write(assignToLists(c, cent, dim), s"${feature}_lists", Seq("cent_id"))
      writeCentroids(store, feature, cent)
      nl
    } finally c.unpersist(false)
  }

  /** Index-accelerated [[ivfTopK]]: identical output over the same corpus
    * and parameters (spec-asserted), but candidate IO is ONLY the probed
    * list buckets via `readTouched` — the 100 TB ANN serving shape. */
  def searchIndexed(queries: DataFrame, queryIdCol: String, vecCol: String,
                    store: graft.core.BucketedStore, feature: String,
                    k: Int, nprobe: Int = 4, dim: Int = 64): DataFrame = {
    val cent = store.read(s"${feature}_centroids", Seq("cent_id"))
      .select(col("cent_id"), col("__centv"))
      .withColumn("__centn", dotQ(col("__centv"), col("__centv"), dim))
    val q = queries.select(col(queryIdCol).as("query_id"), quantize(col(vecCol), dim).as("__qv"))
      .withColumn("__qn", dotQ(col("__qv"), col("__qv"), dim))
    // persisted: the probe frame keys readTouched's bucket pruning (an
    // action) AND joins the pruned lists — without this the query-side
    // centroid ranking would execute twice per search
    val probes = TopK.perGroup(
      q.join(broadcast(cent))
        .select(col("query_id"), col("__qv"), col("__qn"), col("cent_id"),
          cosineFromParts(dotQ(col("__qv"), col("__centv"), dim), col("__qn"), col("__centn")).as("__psim")),
      Seq("query_id"), Seq(col("__psim").desc, col("cent_id").asc), nprobe, rankCol = "__pr")
      .select(col("query_id"), col("__qv"), col("__qn"), col("cent_id"))
      .persistTracked()
    val listsSubset = store.readTouched(s"${feature}_lists", Seq("cent_id"),
      probes.select("cent_id"))
    val scored = probes
      .join(listsSubset.select(col("cent_id"), col("corpus_id"), col("__cv"), col("__cn")), Seq("cent_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineFromParts(dotQ(col("__qv"), col("__cv"), dim), col("__qn"), col("__cn")).as("cosine"))
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("corpus_id").asc), k, rankCol = "rank")
  }

  /** L2-normalize + symmetric int8 quantization of an embedding column —
    * the standard storage/serving compression for embedding corpora (16→1
    * bytes per dim at dim·float32). code_i = floor(v_i·127/‖v‖ + 0.5):
    * explicit floor(x+0.5) because `round` half-way semantics differ across
    * engines (Spark HALF_UP vs DuckDB away-from-zero), while floor is floor
    * everywhere. Zero vectors quantize to all-zero codes. Norms come from
    * the exact int64 micro-unit dot (order-independent, oracle-checkable);
    * one projection per row, no shuffle. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String,
                   dim: Int = 64): DataFrame = {
    val q = df.select(col(idCol), quantize(col(vecCol), dim).as("__qv"))
      .withColumn("__norm", sqrt(dotQ(col("__qv"), col("__qv"), dim).cast("double")))
    q.select(col(idCol),
      (col("__norm") / 1000000d).as("l2_norm"),
      array((0 until dim).map(i =>
        when(col("__norm") === 0d, lit(0))
          .otherwise(floor(get(col("__qv"), lit(i)).cast("double") * 127.0 / col("__norm") + 0.5)
            .cast("int"))): _*).as("codes"))
  }

  /** Plane count that keeps LSH bucket population ~`targetBucket` for an
    * `n`-vector corpus: 2^planes buckets, so planes must GROW with the
    * corpus — with planes fixed, bucket population grows linearly and the
    * within-bucket candidate join quadratically (measured 13x wall at 30x
    * rows in the ScaleRehearsal vs ~linear once planes scale). More planes
    * = smaller buckets = stricter blocking (lower recall per pair, like any
    * LSH precision/recall dial); near-dup thresholds ≥0.5 tolerate it well. */
  def autoPlanes(n: Long, targetBucket: Int = 1000): Int =
    math.max(4, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket))
      / math.log(2.0)).toInt)

  /** IVF list-count dial, the [[autoPlanes]] analogue for [[ivfTopK]] /
    * [[indexVectors]]: nlist ≈ √n keeps the assignment join at n·√n work
    * and each inverted list at ~√n vectors, so a query's candidate IO
    * (nprobe probed lists) grows as √n — sub-linear in corpus size. A FIXED
    * nlist makes per-list size (and so per-query cost) linear in n, the
    * same degeneracy autoPlanes fixes for the hyperplane path. */
  def autoNlist(n: Long): Int =
    math.max(16, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  /** Embedding-cosine near-duplicate pairs: LSH-blocked, then exact cosine
    * filter. Same keyed-shuffle shape as [[Dedup.minhashNearDupPairs]].
    * `planes` must scale with corpus size — see [[autoPlanes]]. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, planes: Int = 4, dim: Int = 64): DataFrame = {
    val v = df.select(col(idCol), quantize(col(vecCol), dim).as("__v"))
      .withColumn("__bucket", lshBucket(col("__v"), planes, dim))
      .withColumn("__n", dotQ(col("__v"), col("__v"), dim))
      .persistTracked()
    val l = v.select(col(idCol).as("id_l"), col("__v").as("__v_l"), col("__n").as("__n_l"), col("__bucket"))
    val r = v.select(col(idCol).as("id_r"), col("__v").as("__v_r"), col("__n").as("__n_r"), col("__bucket"))
    l.join(r, Seq("__bucket")).where(col("id_l") < col("id_r"))
      .select(col("id_l"), col("id_r"),
        cosineFromParts(dotQ(col("__v_l"), col("__v_r"), dim), col("__n_l"), col("__n_r")).as("cosine"))
      .where(col("cosine") >= threshold)
    // no distinct: each vector has exactly ONE hyperplane bucket, so the
    // id_l < id_r self-join emits every pair at most once already (the
    // multi-band minhash path genuinely duplicates; this one never does —
    // a distinct here would shuffle the whole output for nothing)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): embedding near-duplicate pairs → connected
    * components → keep the minimum-id representative per cluster. The
    * published recipe blocks with k-means; the hyperplane-LSH blocking of
    * [[cosineNearDupPairs]] plays the same role with a deterministic,
    * oracle-expressible bucket function, and the transitive closure makes
    * the keep/drop decision stable under blocking (A≈B≈C collapses to one
    * survivor even when A,C never share a bucket but both pair with B).
    *
    * Returns one row per corpus row: `(id, rep, kept)` — `rep` is the
    * cluster representative (the row itself when it has no near-dup) and
    * `kept` marks the survivors, so callers can either filter the corpus
    * (`kept`) or re-key references onto representatives (`rep`).
    *
    * Scale shape: pairs and components are the plan-locked shapes of
    * q74/q86; the final left join keys the corpus once on id, and the
    * cluster side holds only pair-touched rows (≪ corpus for real
    * near-dup rates) so AQE broadcasts it. Pass `planes =`
    * [[autoPlanes]]`(n)` in production — the fixed default exists for
    * oracle parity. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, planes: Int = 4, dim: Int = 64): DataFrame = {
    val pairs = cosineNearDupPairs(df, idCol, vecCol, threshold, planes, dim)
      .select(col("id_l"), col("id_r"))
    val clusters = Dedup.nearDupClusters(pairs)
    df.select(col(idCol).as("id"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_rep"), col("id")).as("rep"),
        (col("cluster_rep").isNull || col("cluster_rep") === col("id")).as("kept"))
  }

  /** Per-label embedding centroids (average pooling / class prototypes),
    * emitted flat as `(label, dim, n, centroid_q)` where `centroid_q` is the
    * mean of the 1e-6-quantized components — exact int64 sums, so the single
    * final division is the only float op and is identically rounded in any
    * IEEE-754 engine.
    *
    * Scale shape: posexplode is map-side; partial aggregation collapses each
    * task to |labels|·dim rows before the one keyed shuffle — the exchange
    * never carries corpus-sized data. */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col("label"), col("dim"),
        round(col("__x").cast("double") * 1000000d).cast("long").as("__q"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("__q").as("__sum_q"))
      .select(col("label"), col("dim"), col("n"),
        (col("__sum_q").cast("double") / col("n")).as("centroid_q"))

  /** Embedding-distribution DRIFT between two corpus snapshots — the
    * vector-modality twin of [[graft.ops.TextOps.tokenDrift]] (the
    * training-data monitoring pair: "did this week's crawl shift the
    * token distribution" AND "did the new embedding batch shift the
    * representation distribution" — an encoder upgrade, a domain shift,
    * or a broken preprocessing step all show up here first). Per
    * dimension, the absolute mean shift between the snapshots in exact
    * micro units:
    *
    *   shift_micro = ⌊ |s_a·n_b − s_b·n_a| / (n_a·n_b) ⌋
    *
    * over the 1e-6-quantized components (s = per-dim component sum, n =
    * vector count) — the division clears s_a/n_a − s_b/n_b of fractions,
    * every operand is an exact integer (DECIMAL(38,0) products; both
    * engines truncate the one nonneg integral division identically), so
    * the ranking is engine-reproducible. `direction` = sign of the raw
    * difference (+1: snapshot A's mean is higher). Short vectors are
    * PADDED to `dim` by [[quantize]] (null components): every padded
    * position still counts into that dimension's n while its component
    * contributes 0 to the sum (the count is count(*), the sum skips
    * nulls) — a dimension only goes truly missing when a whole snapshot
    * is EMPTY, and then it scores 0 by convention (no distribution to
    * drift from), mirroring tokenDrift's empty-snapshot rule. The
    * 38-digit headroom bounds the contract at ~10¹⁵ vectors per
    * snapshot. Output: one row per dimension,
    * (pos, n_a, n_b, s_a, s_b, shift_micro, direction, rank), rank by
    * shift desc, ties → pos asc. s_a/s_b emit as long — exact below
    * ~10¹² vectors (micro components ≤ ~10⁶ each).
    *
    * Scale shape: one dimension-keyed count/sum aggregation per snapshot
    * (posexplode is map-side; partial aggregation collapses each task to
    * `dim` rows before the exchange), a dim-keyed full-outer join over
    * `dim` rows, and a `dim`-row window for the rank — the corpora
    * themselves never shuffle. The rank window is PARTITION-LESS (one
    * task), safe ONLY because its frame is dim-sized — so `dim` is a
    * loud contract, capped at 4096 like the family's other
    * driver/single-task bounds (`maxBroadcastAnchors` et al.). */
  def embeddingDrift(dfA: DataFrame, dfB: DataFrame, vecCol: String,
      dim: Int = 64): DataFrame = {
    require(dim >= 1 && dim <= 4096,
      s"dim must be in [1, 4096], got $dim — the final rank is a " +
        "partition-less window over one dim-sized frame (one task); a " +
        "corpus-scale dim would funnel it through a single task")
    // ONE tagged-union dim-keyed aggregation for both sides (the
    // tokenCountsBoth/ksDrift discipline): replaces two per-side
    // aggregations + a dim-keyed full-outer join. Row-identical: n was
    // count(*) (rows incl. padded-null components) = sum of a 1-indicator;
    // s was sum(q) null-skipping = sum of coalesce(q, 0).
    def side(df: DataFrame) = df
      .select(posexplode(quantize(col(vecCol), dim)).as(Seq("pos", "__q")))
      .select(col("pos"), lit(1L).as("__n"),
        coalesce(col("__q"), lit(0L)).as("__s"))
    meanDriftFromJoined(sideSumsBoth(side(dfA), side(dfB), Seq("pos")))
  }

  /** ONE tagged-union aggregation producing BOTH sides' (n, s) sums keyed
    * on `keys` — each side's rows enter as (keys, __n, __s) and are tagged
    * into (n, 0, s, 0) / (0, n, 0, s) indicator quads; one keyed exchange
    * sums all four. Row-identical to two per-side aggregations + a keyed
    * full-outer join with coalesce(0): a key present on either side
    * appears once with both sums, absent side 0 — and NULL keys merge
    * under groupBy semantics exactly as a direct aggregation would
    * (full-outer joins never match NULL = NULL, which silently split
    * NULL-group rows on the profile-served routes). */
  private def sideSumsBoth(rowsA: DataFrame, rowsB: DataFrame,
      keys: Seq[String]): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def tag(df: DataFrame, isA: Boolean) = df.select(
      keys.map(col) ++ Seq(
        (if (isA) col("__n") else lit(0L)).as("__na"),
        (if (isA) lit(0L) else col("__n")).as("__nb"),
        (if (isA) dec(col("__s")) else dec(lit(0L))).as("__sa"),
        (if (isA) dec(lit(0L)) else dec(col("__s"))).as("__sb")): _*)
    tag(rowsA, true).unionByName(tag(rowsB, false))
      .groupBy(keys.map(col): _*)
      .agg(sum("__na").as("n_a"), sum("__nb").as("n_b"),
        sum("__sa").as("s_a"), sum("__sb").as("s_b"))
  }

  /** SEGMENTED [[embeddingDrift]] — per group (label, source, encoder
    * version…): the deployed question is "WHICH segment's representation
    * moved", not "did the corpus move" ([[graft.ops.TextOps.tokenDriftByGroup]]
    * is the text-side twin). Per group, the identical exact cleared mean
    * shift over that group's own per-dimension sums; rank is per group
    * (shift desc, pos asc). A group with either side empty scores 0 on
    * every dimension — the empty-snapshot convention applied per group.
    *
    * Scale shape: one (group, dim)-keyed count/sum aggregation per
    * snapshot (map-side partial collapse), a (group, dim)-keyed
    * full-outer join, and a rank window PARTITIONED by group — unlike the
    * global op's dim-sized partition-less window, this one scales with
    * group count, so there is no single-task funnel and no extra cap
    * beyond quantize's own dim bound. */
  def embeddingDriftByGroup(dfA: DataFrame, dfB: DataFrame, vecCol: String,
      groupCol: String, dim: Int = 64): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    // ONE tagged-union (group, dim)-keyed aggregation for both sides —
    // see [[embeddingDrift]]/[[sideSumsBoth]]
    def side(df: DataFrame) = df
      .select(col(groupCol), posexplode(quantize(col(vecCol), dim)).as(Seq("pos", "__q")))
      .select(col(groupCol), col("pos"), lit(1L).as("__n"),
        coalesce(col("__q"), lit(0L)).as("__s"))
    meanDriftByGroupFromJoined(
      sideSumsBoth(side(dfA), side(dfB), Seq(groupCol, "pos")), groupCol)
  }

  /** SEGMENTED [[embeddingDriftAttribution]] — per group the same
    * question: for each of the group's top-D drifted dimensions, WHICH of
    * its snapshot-B vectors pull B's mean away from A's, by the exact
    * scaled pull −direction·(q·n_a − s_a) under the GROUP's own (n_a,
    * s_a). The shift, direction, and ranks are [[embeddingDriftByGroup]]'s
    * verbatim (shared tail), so the attributed set IS the segmented
    * monitor's. Zero-direction dims attribute nothing. Output: (group,
    * pos, shift_micro, direction, vec_id, comp_micro, contrib_scaled,
    * contrib_rank).
    *
    * Scale shape: the drifted stats collapse map-side to ≤ groups·dim
    * rows and BROADCAST over ONE posexplode pass of snapshot B; the
    * (group, pos) join prunes to drifted dims before the rank exchange,
    * which is WindowGroupLimit-prefiltered — the corpus never shuffles. */
  def embeddingDriftAttributionByGroup(dfA: DataFrame, dfB: DataFrame,
      idCol: String, vecCol: String, groupCol: String, dim: Int = 64,
      topD: Int = 5, topK: Int = 10): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    require(topD >= 1 && topD <= dim, s"topD must be in [1, dim=$dim], got $topD")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val drifted = embeddingDriftByGroup(dfA, dfB, vecCol, groupCol, dim)
      .where(col("rank") <= topD && col("direction") =!= 0)
      .select(col(groupCol), col("pos"), col("n_a"), col("s_a"),
        col("shift_micro"), col("direction"))
    val exploded = dfB
      .select(col(groupCol), col(idCol).as("vec_id"),
        posexplode(quantize(col(vecCol), dim)).as(Seq("pos", "__q")))
      .select(col(groupCol), col("vec_id"), col("pos"),
        coalesce(col("__q"), lit(0L)).as("comp_micro"))
    val delta = dec(col("comp_micro")) * dec(col("n_a")) - dec(col("s_a"))
    val contrib = when(col("direction") === 1, -delta)
      .when(col("direction") === -1, delta)
      .otherwise(lit(0L).cast("decimal(38,0)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("pos"))
      .orderBy(col("contrib_scaled").desc, col("vec_id").asc)
    exploded.join(broadcast(drifted), Seq(groupCol, "pos"))
      .select(col(groupCol), col("pos"), col("shift_micro"), col("direction"),
        col("vec_id"), col("comp_micro"), contrib.cast("long").as("contrib_scaled"))
      .withColumn("contrib_rank", row_number().over(w))
      .where(col("contrib_rank") <= topK)
  }

  /** [[embeddingDriftByGroup]] computed from two STORED
    * [[embeddingProfileByGroup]] frames instead of the corpora — the
    * serving read of the segmented streaming monitor: folding each
    * group's bins recovers its exact per-dim (n, s) (padding convention
    * included), so the answer is IDENTICAL to running
    * embeddingDriftByGroup over the corpora the profiles summarize (spec-
    * and oracle-asserted; q213 shares q208's oracle verbatim). Cost: two
    * ≤ groups·dim·bins-row scans — the corpora are never touched. */
  def embeddingDriftByGroupFromProfiles(profA: DataFrame, profB: DataFrame,
      groupCol: String): DataFrame = {
    // ONE tagged-union aggregation over BOTH stored profiles (the per-side
    // re-aggregation of concatenated partials rides the same exchange);
    // groupBy key semantics also merge NULL groups exactly as the direct
    // route's aggregation does — a full-outer join never matches
    // NULL = NULL and split NULL-group rows per side
    def side(p: DataFrame) = p.select(col(groupCol), col("pos"),
      col("n").as("__n"), col("s").as("__s"))
    meanDriftByGroupFromJoined(
      sideSumsBoth(side(profA), side(profB), Seq(groupCol, "pos")), groupCol)
  }

  /** Shared per-group mean-shift tail of [[embeddingDriftByGroup]] /
    * [[embeddingDriftByGroupFromProfiles]] — one code path so the direct
    * and profile-served routes cannot drift. Input: the tagged-union
    * (group, pos, n_a, n_b, s_a, s_b) sums ([[sideSumsBoth]]), s already
    * DECIMAL(38,0), non-null by construction. */
  private def meanDriftByGroupFromJoined(joined: DataFrame,
      groupCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val rawDiff = col("s_a") * dec(col("n_b")) - col("s_b") * dec(col("n_a"))
    val shift = when(col("n_a") === 0 || col("n_b") === 0, lit(0L))
      .otherwise(call_function("div", abs(rawDiff), dec(col("n_a")) * dec(col("n_b"))))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(col("shift_micro").desc, col("pos").asc)
    joined
      .select(col(groupCol), col("pos"), col("n_a"), col("n_b"),
        col("s_a").cast("long").as("s_a"), col("s_b").cast("long").as("s_b"),
        shift.cast("long").as("shift_micro"),
        when(rawDiff > 0, 1).when(rawDiff < 0, -1).otherwise(0).as("direction"))
      .withColumn("rank", row_number().over(w))
  }

  /** [[embeddingDrift]] computed from two STORED [[embeddingProfile]]
    * frames instead of the corpora — the serving read of the streaming
    * monitor ([[graft.streaming.Fastlane.ingestEmbeddingProfile]]): per
    * dimension the profile's per-bin (n, s) fold back to the exact
    * per-dim count and component sum (padding convention included — a
    * padded position sits in bin 0 with n counted and s += 0), so the
    * answer is IDENTICAL to running embeddingDrift over the corpora the
    * profiles summarize (spec- and oracle-asserted; q202 shares q198's
    * oracle verbatim). Cost: two ≤ dim·bins-row scans — the corpora are
    * never touched. */
  def embeddingDriftFromProfiles(profA: DataFrame, profB: DataFrame): DataFrame = {
    // ONE tagged-union aggregation over BOTH stored profiles — see
    // [[embeddingDriftByGroupFromProfiles]]
    def side(p: DataFrame) = p.select(col("pos"),
      col("n").as("__n"), col("s").as("__s"))
    meanDriftFromJoined(sideSumsBoth(side(profA), side(profB), Seq("pos")))
  }

  /** Shared mean-shift tail of [[embeddingDrift]] /
    * [[embeddingDriftFromProfiles]]: the cleared integer shift and the
    * dim-row rank window — one code path so the direct and profile-served
    * routes cannot drift. Input: the tagged-union (pos, n_a, n_b, s_a,
    * s_b) sums ([[sideSumsBoth]]), s already DECIMAL(38,0), non-null by
    * construction. */
  private def meanDriftFromJoined(joined: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val rawDiff = col("s_a") * dec(col("n_b")) - col("s_b") * dec(col("n_a"))
    val shift = when(col("n_a") === 0 || col("n_b") === 0, lit(0L))
      .otherwise(call_function("div", abs(rawDiff), dec(col("n_a")) * dec(col("n_b"))))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("shift_micro").desc, col("pos").asc)
    joined
      .select(col("pos"), col("n_a"), col("n_b"),
        col("s_a").cast("long").as("s_a"), col("s_b").cast("long").as("s_b"),
        shift.cast("long").as("shift_micro"),
        when(rawDiff > 0, 1).when(rawDiff < 0, -1).otherwise(0).as("direction"))
      .withColumn("rank", row_number().over(w))
  }

  /** Embedding-drift ATTRIBUTION — the step AFTER a monitor fires: the
    * drift monitors say WHICH dimension moved ([[embeddingDrift]]); this
    * answers WHICH documents moved it (the "inspect the exemplars driving
    * the shift" step of drift debugging — Rabanser, Günnemann & Lipton,
    * NeurIPS 2019, "Failing Loudly", arXiv:1810.11953 — made exact and
    * engine-reproducible). For each of snapshot A→B's top-`topD` drifted
    * dimensions, the top-`topK` snapshot-B vectors pulling B's mean away
    * from A's, ranked by the exact scaled pull
    *
    *   contrib_scaled = −direction · (q·n_a − s_a)
    *
    * over the 1e-6-quantized component q (= (q − mean_A)·n_a, sign-flipped
    * so "pulling in the drift direction" is positive; direction is
    * [[embeddingDrift]]'s sign — +1 when A's mean is higher, so B drifted
    * DOWN and the biggest contributors sit furthest BELOW A's mean). All
    * integer products in DECIMAL(38,0); ties → smaller id. A dimension
    * whose shift is 0 (direction 0 — possible inside the top-D when fewer
    * than topD dims moved) scores every vector 0 and ranks by id — present
    * but uninformative, by convention. `contrib_scaled` and the padded
    * `comp_micro` emit as long — exact below ~10¹² vectors per snapshot at
    * |component| ≤ 4 (the s_a bound). Padded positions of short vectors
    * carry component 0, the family convention.
    *
    * Output: one row per (drifted dim, contributor),
    * (pos, shift_micro, direction, vec_id, comp_micro, contrib_scaled,
    * contrib_rank), contrib_rank 1..topK per pos.
    *
    * Scale shape: the drift stats are [[embeddingDrift]]'s corpus-free
    * aggregation (the corpora collapse map-side to dim rows); the ≤ topD
    * drifted rows BROADCAST over one posexplode pass of snapshot B (join
    * on pos prunes the exploded stream to the drifted dims immediately),
    * and the per-dim rank window is fed by a WindowGroupLimit per-partition
    * top-K heap — the exchange carries ≤ topK·tasks rows per dim, never
    * the corpus. topD rides the same loud dim ≤ 4096 cap as the monitors. */
  def embeddingDriftAttribution(dfA: DataFrame, dfB: DataFrame,
      idCol: String, vecCol: String, dim: Int = 64, topD: Int = 5,
      topK: Int = 10): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    require(topD >= 1 && topD <= dim, s"topD must be in [1, dim=$dim], got $topD")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def side(df: DataFrame) = df
      .select(posexplode(quantize(col(vecCol), dim)).as(Seq("pos", "__q")))
      .select(col("pos"), lit(1L).as("__n"),
        coalesce(col("__q"), lit(0L)).as("__s"))
    val drifted = meanDriftFromJoined(
        sideSumsBoth(side(dfA), side(dfB), Seq("pos")))
      .where(col("rank") <= topD)
      .select(col("pos"), col("n_a"), col("s_a"), col("shift_micro"), col("direction"))
    val exploded = dfB
      .select(col(idCol).as("vec_id"), posexplode(quantize(col(vecCol), dim)).as(Seq("pos", "__q")))
      .select(col("vec_id"), col("pos"), coalesce(col("__q"), lit(0L)).as("comp_micro"))
    val delta = dec(col("comp_micro")) * dec(col("n_a")) - dec(col("s_a"))
    val contrib = when(col("direction") === 1, -delta)
      .when(col("direction") === -1, delta)
      .otherwise(lit(0L).cast("decimal(38,0)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("pos")
      .orderBy(col("contrib_scaled").desc, col("vec_id").asc)
    exploded.join(broadcast(drifted), Seq("pos"))
      .select(col("pos"), col("shift_micro"), col("direction"), col("vec_id"),
        col("comp_micro"), contrib.cast("long").as("contrib_scaled"))
      .withColumn("contrib_rank", row_number().over(w))
      .where(col("contrib_rank") <= topK)
  }

  /** Per-dimension embedding SHAPE drift — the monitoring family's third
    * leg. [[graft.ops.TextOps.tokenDrift]] watches the token distribution
    * and [[embeddingDrift]] watches each dimension's MEAN; both provably
    * miss a variance-only shift (an encoder that doubles its spread on one
    * dimension while keeping the mean moves embeddingDrift's score by
    * exactly 0). This is tokenDrift's exact binned two-sample chi-square
    * pointed at vectors: each 1e-6-quantized component falls into one of
    * `bins` equal-width buckets of `binWidthMicro` micros (clamped to
    * [-bins/2, bins/2-1] — the tails fold into the edge buckets), and per
    * dimension the per-bin contributions
    *
    *   ⌊ 10⁶·(n_a·t_b − n_b·t_a)² / ((n_a+n_b)·t_a·t_b) ⌋
    *
    * (n = the side's count in that (dim, bin); t = the side's total count
    * for that dim — tokenDrift's per-token summand verbatim) sum to
    * `chi2_micro`. Every operand is an exact integer (DECIMAL(38,0)
    * products; both engines truncate the nonneg integral division
    * identically, and the sum of exact integers is order-free), so the
    * ranking is engine-reproducible. Binning is floor(q / binWidthMicro)
    * via one correctly-rounded double division — exact for |q| ≤ 2³¹ at
    * any width ≥ 1 (the quotient's distance to an integer boundary,
    * ≥ 1/width, dwarfs the division's half-ulp). PADDED positions of
    * short vectors (null components) land in bin 0 — present with a zero
    * component, the [[embeddingDrift]] convention. An EMPTY snapshot
    * scores 0 everywhere (no distribution to drift from).
    *
    * Output: one row per dimension with data on either side,
    * (pos, t_a, t_b, chi2_micro, rank), rank by chi2 desc, ties → pos asc.
    *
    * Scale shape: one (dim, bin)-keyed count aggregation per snapshot
    * (posexplode is map-side; partial aggregation collapses each task to
    * ≤ dim·bins rows before the exchange), a (dim, bin)-keyed full-outer
    * join over ≤ dim·bins rows, a broadcast of the dim-sized totals, and
    * a dim-row window for the rank — the corpora themselves never
    * shuffle. The rank window is partition-less (one task), safe ONLY
    * because its frame is dim-sized — hence the same loud `dim` cap as
    * [[embeddingDrift]]. */
  def embeddingShapeDrift(dfA: DataFrame, dfB: DataFrame, vecCol: String,
      dim: Int = 64, bins: Int = 16, binWidthMicro: Long = 31250L): DataFrame = {
    require(dim >= 1 && dim <= 4096,
      s"dim must be in [1, 4096], got $dim — the final rank is a " +
        "partition-less window over one dim-sized frame (one task); a " +
        "corpus-scale dim would funnel it through a single task")
    require(bins >= 2 && bins <= 256 && bins % 2 == 0,
      s"bins must be even and in [2, 256], got $bins")
    require(binWidthMicro >= 1,
      s"binWidthMicro must be >= 1, got $binWidthMicro")
    // ONE tagged-union (dim, bin)-keyed aggregation for both sides (the
    // tokenCountsBoth/ksDrift discipline) — replaces two per-side
    // aggregations + a full-outer join; row-identical (a (pos, bin)
    // present on either side appears once with both counts, absent side 0)
    def side(df: DataFrame, a: Long, b: Long) = df
      .select(posexplode(quantize(col(vecCol), dim)).as(Seq("pos", "__q")))
      .select(col("pos"),
        componentBin(col("__q"), bins, binWidthMicro).as("bin"),
        lit(a).as("__ca"), lit(b).as("__cb"))
    shapeDriftFromBinned(
      side(dfA, 1L, 0L).unionByName(side(dfB, 0L, 1L))
        .groupBy("pos", "bin")
        .agg(sum("__ca").as("n_a"), sum("__cb").as("n_b")))
  }

  /** [[embeddingShapeDrift]] computed from two STORED [[embeddingProfile]]
    * frames instead of the corpora — the serving read of the streaming
    * monitor: the profile's per-(dim, bin) n IS the binned count the
    * direct route aggregates, so the answer is IDENTICAL to running
    * embeddingShapeDrift over the corpora the profiles summarize (spec-
    * and oracle-asserted; q203 shares q200's oracle verbatim). Inputs are
    * re-aggregated by (pos, bin) first, so a profile assembled from
    * concatenated partial profiles is also accepted. Cost: two
    * ≤ dim·bins-row scans — the corpora are never touched. */
  def embeddingShapeDriftFromProfiles(profA: DataFrame, profB: DataFrame): DataFrame =
    shapeDriftFromBinned(
      profA.select(col("pos"), col("bin"), col("n").as("__ca"), lit(0L).as("__cb"))
        .unionByName(profB.select(col("pos"), col("bin"),
          lit(0L).as("__ca"), col("n").as("__cb")))
        .groupBy("pos", "bin")
        .agg(sum("__ca").as("n_a"), sum("__cb").as("n_b")))

  /** Shared chi-square tail of [[embeddingShapeDrift]] /
    * [[embeddingShapeDriftFromProfiles]] — one code path so the direct
    * and profile-served routes cannot drift. Input: per-(pos, bin) counts
    * n_a / n_b (from the tagged-union aggregation — non-null there; the
    * coalesce below keeps the tail total on any caller). */
  private def shapeDriftFromBinned(joinedBins: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // persisted (bounded: ≤ dim·bins rows): the totals agg and the scoring
    // join both read it — uncached each branch re-scans BOTH corpora
    val binned = joinedBins
      .select(col("pos"), col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .persistTracked()
    val totals = binned.groupBy("pos")
      .agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"))
    val diff = dec(col("n_a")) * dec(col("t_b")) - dec(col("n_b")) * dec(col("t_a"))
    // empty snapshot: t_a or t_b = 0 zeroes the denominator for every bin
    // of every dimension — 0 by convention, not a DIVIDE_BY_ZERO abort
    val contrib = when(col("t_a") === 0 || col("t_b") === 0, lit(0L))
      .otherwise(call_function("div",
        dec(lit(1000000L)) * diff * diff,
        (dec(col("n_a")) + dec(col("n_b"))) * dec(col("t_a")) * dec(col("t_b"))))
    val perDim = binned.join(broadcast(totals), Seq("pos"))
      .groupBy("pos", "t_a", "t_b")
      .agg(sum(contrib).as("__chi2"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("chi2_micro").desc, col("pos").asc)
    perDim
      .select(col("pos"), col("t_a"), col("t_b"),
        col("__chi2").cast("long").as("chi2_micro"))
      .withColumn("rank", row_number().over(w))
  }

  /** SEGMENTED [[embeddingShapeDrift]] — per group (label, source,
    * encoder version…), completing the 3×2 monitoring matrix
    * (token/mean/shape × global/segmented): per group the identical
    * exact binned two-sample chi-square over that group's own
    * per-(dim, bin) distribution. A group with either side empty scores
    * 0 everywhere — the convention, per group.
    *
    * Scale shape: (group, dim, bin)-keyed count aggregations (map-side
    * partial collapse), per-(group, dim) totals as an unordered window
    * sum riding the (group, dim) exchange, and a rank window PARTITIONED
    * by group — scales with group count, no single-task funnel. */
  def embeddingShapeDriftByGroup(dfA: DataFrame, dfB: DataFrame,
      vecCol: String, groupCol: String, dim: Int = 64, bins: Int = 16,
      binWidthMicro: Long = 31250L): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    require(bins >= 2 && bins <= 256 && bins % 2 == 0,
      s"bins must be even and in [2, 256], got $bins")
    require(binWidthMicro >= 1,
      s"binWidthMicro must be >= 1, got $binWidthMicro")
    // ONE tagged-union (group, dim, bin)-keyed aggregation for both sides
    // — see [[embeddingShapeDrift]]
    def side(df: DataFrame, a: Long, b: Long) = df
      .select(col(groupCol), posexplode(quantize(col(vecCol), dim)).as(Seq("pos", "__q")))
      .select(col(groupCol), col("pos"),
        componentBin(col("__q"), bins, binWidthMicro).as("bin"),
        lit(a).as("__ca"), lit(b).as("__cb"))
    shapeDriftByGroupFromBinned(
      side(dfA, 1L, 0L).unionByName(side(dfB, 0L, 1L))
        .groupBy(groupCol, "pos", "bin")
        .agg(sum("__ca").as("n_a"), sum("__cb").as("n_b")),
      groupCol)
  }

  /** [[embeddingShapeDriftByGroup]] computed from two STORED
    * [[embeddingProfileByGroup]] frames instead of the corpora — the
    * serving read of the segmented streaming monitor: the profile's
    * per-(group, dim, bin) n IS the binned count the direct route
    * aggregates, so the answer is IDENTICAL to running
    * embeddingShapeDriftByGroup over the corpora the profiles summarize
    * (spec- and oracle-asserted; q214 shares q211's oracle verbatim).
    * Inputs are re-aggregated by (group, pos, bin) first, so concatenated
    * partial profiles are also accepted. Cost: two ≤ groups·dim·bins-row
    * scans — the corpora are never touched. */
  def embeddingShapeDriftByGroupFromProfiles(profA: DataFrame,
      profB: DataFrame, groupCol: String): DataFrame =
    shapeDriftByGroupFromBinned(
      profA.select(col(groupCol), col("pos"), col("bin"),
          col("n").as("__ca"), lit(0L).as("__cb"))
        .unionByName(profB.select(col(groupCol), col("pos"), col("bin"),
          lit(0L).as("__ca"), col("n").as("__cb")))
        .groupBy(groupCol, "pos", "bin")
        .agg(sum("__ca").as("n_a"), sum("__cb").as("n_b")),
      groupCol)

  /** Shared per-group chi-square tail of [[embeddingShapeDriftByGroup]] /
    * [[embeddingShapeDriftByGroupFromProfiles]] — one code path so the
    * direct and profile-served routes cannot drift. Input: per-(group,
    * pos, bin) counts n_a / n_b (from the tagged-union aggregation —
    * non-null there). The per-(group, dim) totals window is bounded by
    * `bins` rows per frame — no vocab-sized buffering (unlike the token
    * family, which broadcasts its totals for exactly that reason). */
  private def shapeDriftByGroupFromBinned(joinedBins: DataFrame,
      groupCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val binned = joinedBins
      .select(col(groupCol), col("pos"), col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(groupCol, "pos")
    val withTotals = binned
      .withColumn("t_a", sum("n_a").over(wt))
      .withColumn("t_b", sum("n_b").over(wt))
    val diff = dec(col("n_a")) * dec(col("t_b")) - dec(col("n_b")) * dec(col("t_a"))
    val contrib = when(col("t_a") === 0 || col("t_b") === 0, lit(0L))
      .otherwise(call_function("div",
        dec(lit(1000000L)) * diff * diff,
        (dec(col("n_a")) + dec(col("n_b"))) * dec(col("t_a")) * dec(col("t_b"))))
    val perDim = withTotals
      .groupBy(groupCol, "pos", "t_a", "t_b")
      .agg(sum(contrib).as("__chi2"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(col("chi2_micro").desc, col("pos").asc)
    perDim
      .select(col(groupCol), col("pos"), col("t_a"), col("t_b"),
        col("__chi2").cast("long").as("chi2_micro"))
      .withColumn("rank", row_number().over(w))
  }

  /** Per-(dimension, bin) embedding PROFILE — the additive sufficient
    * statistic for BOTH drift monitors: `n` = component count in the
    * (pos, bin) bucket, `s` = exact micro-unit component sum there.
    * Folding bins per dimension recovers [[embeddingDrift]]'s (n, s)
    * exactly (padded positions: bin 0, n counted, s += 0 — the same
    * convention), and the per-bin n IS [[embeddingShapeDrift]]'s count —
    * so two stored profiles answer both monitors without touching the
    * corpora ([[embeddingDriftFromProfiles]] /
    * [[embeddingShapeDriftFromProfiles]]). Profiles are ADDITIVE under
    * (pos, bin)-keyed sum, which is what makes the streaming maintenance
    * loop ([[graft.streaming.Fastlane.ingestEmbeddingProfile]]) O(batch):
    * profile(A ∪ B) == profile(A) +(pos,bin) profile(B), exact integers,
    * no order sensitivity. `s` emits as long — exact below ~4·10¹²
    * components per (pos, bin) bucket.
    *
    * Scale shape: one (dim, bin)-keyed count/sum aggregation — posexplode
    * map-side, partial aggregation collapses each task to ≤ dim·bins rows
    * before the one exchange; the corpus never shuffles. */
  def embeddingProfile(df: DataFrame, vecCol: String, dim: Int = 64,
      bins: Int = 16, binWidthMicro: Long = 31250L): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    require(bins >= 2 && bins <= 256 && bins % 2 == 0,
      s"bins must be even and in [2, 256], got $bins")
    require(binWidthMicro >= 1,
      s"binWidthMicro must be >= 1, got $binWidthMicro")
    df.select(posexplode(quantize(col(vecCol), dim)).as(Seq("pos", "__q")))
      .select(col("pos"),
        componentBin(col("__q"), bins, binWidthMicro).as("bin"),
        coalesce(col("__q"), lit(0L)).as("__q0"))
      .groupBy("pos", "bin")
      .agg(count(lit(1)).as("n"), sum(col("__q0")).as("s"))
  }

  /** SEGMENTED [[embeddingProfile]] — the additive sufficient statistic
    * per group, keyed (group, pos, bin): folding a group's bins recovers
    * its exact per-dim (n, s) for [[embeddingDriftByGroupFromProfiles]]
    * and the per-(group, pos, bin) n IS
    * [[embeddingShapeDriftByGroupFromProfiles]]'s binned count — so two
    * stored segmented profiles answer BOTH per-group monitors without
    * touching the corpora, closing the r15 asymmetry where only the
    * global monitors were profile-servable. Additive under
    * (group, pos, bin)-keyed sum, exact integers — the streaming
    * maintenance loop
    * ([[graft.streaming.Fastlane.ingestEmbeddingProfileByGroup]]) grows it
    * at O(batch + touched buckets) per micro-batch.
    *
    * Scale shape: one (group, dim, bin)-keyed count/sum aggregation —
    * posexplode map-side, partial aggregation collapses each task to
    * ≤ its-groups·dim·bins rows before the one exchange; the corpus never
    * shuffles. */
  def embeddingProfileByGroup(df: DataFrame, vecCol: String,
      groupCol: String, dim: Int = 64, bins: Int = 16,
      binWidthMicro: Long = 31250L): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    require(bins >= 2 && bins <= 256 && bins % 2 == 0,
      s"bins must be even and in [2, 256], got $bins")
    require(binWidthMicro >= 1,
      s"binWidthMicro must be >= 1, got $binWidthMicro")
    df.select(col(groupCol), posexplode(quantize(col(vecCol), dim)).as(Seq("pos", "__q")))
      .select(col(groupCol), col("pos"),
        componentBin(col("__q"), bins, binWidthMicro).as("bin"),
        coalesce(col("__q"), lit(0L)).as("__q0"))
      .groupBy(groupCol, "pos", "bin")
      .agg(count(lit(1)).as("n"), sum(col("__q0")).as("s"))
  }

  // ---- product quantization (Jégou, Douze, Schmid, IEEE TPAMI 2011,
  // "Product Quantization for Nearest Neighbor Search") -------------------

  /** PQ codebook as driver-side exact integers: for each of the `m`
    * subspaces, `ksub` codewords taken from the sub-vectors of the `ksub`
    * SMALLEST-id corpus vectors (the [[seedCentroids]] discipline — fully
    * deterministic and oracle-reproducible; Lloyd refinement composes on
    * top exactly as in the IVF family). Layout: codebook(s)(c) is the
    * subDim-long micro-unit sub-vector of codeword c in subspace s. The
    * collect is ksub rows — bounded by construction. */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, dim: Int = 64): Array[Array[Array[Long]]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1,256] (one-byte codes), got $ksub")
    val subDim = dim / m
    val seeds = corpus.select(col(idCol).as("__id"), quantize(col(vecCol), dim).as("__qv"))
      .orderBy(col("__id").asc_nulls_last).limit(ksub)
      .select("__qv").collect()
      .map(_.getSeq[Long](0).toArray)
    require(seeds.length == ksub, s"corpus has ${seeds.length} < ksub=$ksub vectors")
    Array.tabulate(m)(s => seeds.map(v => v.slice(s * subDim, (s + 1) * subDim)))
  }

  /** PQ-encode a corpus: each vector compresses to `m` one-byte codes —
    * the nearest codeword per subspace by exact int64 squared L2 distance
    * over micro-unit components (ties → smaller code). At 10⁹ vectors the
    * codes table is m bytes/vector where the raw floats are 4·dim — the
    * memory wall between "index fits" and "index doesn't" (IVF-PQ is the
    * standard billion-vector recipe; the IVF half is [[indexVectors]]).
    *
    * Scale shape: ONE zero-shuffle map-side pass — the codebook broadcasts
    * (m·ksub·subDim longs) and the m·ksub·subDim multiply-adds per row run
    * as a tight per-partition register loop. (The declarative form — an
    * unrolled `least` fold over m·ksub distance structs — was measured to
    * blow Janino's method limits at 128 codewords and fall back to
    * interpreted Catalyst; this is the documented mapPartitions last
    * resort earning its keep.) Ids ride int64 (densify string ids first).
    * Output: (id, codes: array<int>). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, dim: Int = 64,
      codebook: Array[Array[Array[Long]]] = null): DataFrame = {
    val cb = if (codebook != null) codebook
      else pqCodebook(corpus, idCol, vecCol, m, ksub, dim)
    pqEncodeQ(
      corpus.select(col(idCol).cast("long").as("id"), quantize(col(vecCol), dim).as("__qv")),
      cb, m, dim / m)
      .withColumnRenamed("id", idCol)
  }

  /** [[pqCodebook]] over an ALREADY-QUANTIZED `(corpus_id, __cv, …)` frame —
    * lets the composed rankers quantize the corpus ONCE and share the frame
    * across seeding, list assignment, codebook and encode. */
  private def pqCodebookQ(c: DataFrame, m: Int, ksub: Int, dim: Int): Array[Array[Array[Long]]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1,256] (one-byte codes), got $ksub")
    val subDim = dim / m
    val seeds = c.orderBy(col("corpus_id").asc_nulls_last).limit(ksub)
      .select("__cv").collect()
      .map(_.getSeq[Long](0).toArray)
    require(seeds.length == ksub, s"corpus has ${seeds.length} < ksub=$ksub vectors")
    Array.tabulate(m)(s => seeds.map(v => v.slice(s * subDim, (s + 1) * subDim)))
  }

  /** The encode kernel over an already-quantized `(id: long, __qv)` frame. */
  private def pqEncodeQ(q: DataFrame, cb: Array[Array[Array[Long]]],
      m: Int, subDim: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val bcb = spark.sparkContext.broadcast(cb)
    q.select(col("id"), col("__qv")).as[(Long, Seq[Long])]
      .mapPartitions { it =>
        val book = bcb.value
        it.map { case (id, qvSeq) =>
          val qv = qvSeq.toArray
          val codes = new Array[Int](m)
          var s = 0
          while (s < m) {
            val cws = book(s)
            var best = Long.MaxValue
            var bc = 0
            var c = 0
            while (c < cws.length) {
              var acc = 0L
              var i = 0
              while (i < subDim) {
                val d = qv(s * subDim + i) - cws(c)(i)
                acc += d * d
                i += 1
              }
              // strict <: the FIRST (smallest) code wins exact ties
              if (acc < best) { best = acc; bc = c }
              c += 1
            }
            codes(s) = bc
            s += 1
          }
          (id, codes)
        }
      }.toDF("id", "codes")
  }

  /** Lloyd-refine a PQ codebook — the quality dial on top of
    * [[pqCodebook]]'s deterministic seeds, mirroring the IVF family's
    * `refineIters`: each iteration re-assigns every sub-vector to its
    * nearest codeword (one [[pqEncode]]-style map pass) and recenters each
    * codeword at the NEAREST-integer mean of its members — the true integer
    * minimizer of the squared-distance parabola (a floored mean can move a
    * center AWAY from the real mean and raise distortion); deterministic;
    * empty codewords keep their previous position. With nearest-integer
    * recentering each iteration's recenter step never raises distortion
    * beyond the half-unit quantization floor, and in practice descends
    * monotonically (spec-asserted on the fixture).
    *
    * Scale shape per iteration: one map-side assignment pass whose
    * exchange carries O(tasks · m·ksub·subDim) component sums (the
    * corpus never shuffles), one m·ksub·subDim-row driver collect
    * (1024 rows at the default geometry — the IVF Lloyd discipline). */
  def pqCodebookRefined(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, dim: Int = 64, iters: Int = 3): Array[Array[Array[Long]]] = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var cb = pqCodebook(corpus, idCol, vecCol, m, ksub, dim)
    val subDim = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    for (_ <- 1 to iters) {
      val bcb = spark.sparkContext.broadcast(cb)
      val sums = corpus.select(quantize(col(vecCol), dim).as("__qv"))
        .as[Seq[Long]]
        .flatMap { qvSeq =>
          val qv = qvSeq.toArray
          val book = bcb.value
          (0 until m).iterator.flatMap { s =>
            var best = Long.MaxValue
            var bc = 0
            var c = 0
            while (c < book(s).length) {
              var acc = 0L
              var i = 0
              while (i < subDim) {
                val d = qv(s * subDim + i) - book(s)(c)(i)
                acc += d * d
                i += 1
              }
              if (acc < best) { best = acc; bc = c }
              c += 1
            }
            (0 until subDim).map(i => ((s, bc, i), (qv(s * subDim + i), 1L)))
          }
        }
        .toDF("key", "val")
        .groupBy("key").agg(sum("val._1").as("s"), sum("val._2").as("n"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      sums.foreach { r =>
        val k = r.getStruct(0)
        val (s, c, i) = (k.getInt(0), k.getInt(1), k.getInt(2))
        // round-half-up integer mean: the integer minimizing Σ(x−v)² is the
        // nearest integer to the real mean, not its floor
        next(s)(c)(i) = Math.floorDiv(2 * r.getLong(1) + r.getLong(2), 2 * r.getLong(2))
      }
      cb = next
    }
    cb
  }

  /** Total PQ quantization distortion (Σ per-vector nearest-codeword
    * squared distance) — the objective [[pqCodebookRefined]] descends;
    * exposed for monitoring codebook quality as the corpus drifts. */
  def pqDistortion(corpus: DataFrame, vecCol: String,
      codebook: Array[Array[Array[Long]]], dim: Int = 64): Long = {
    val m = codebook.length
    val subDim = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcb = spark.sparkContext.broadcast(codebook)
    corpus.select(quantize(col(vecCol), dim).as("__qv")).as[Seq[Long]]
      .map { qvSeq =>
        val qv = qvSeq.toArray
        val book = bcb.value
        var tot = 0L
        var s = 0
        while (s < m) {
          var best = Long.MaxValue
          var c = 0
          while (c < book(s).length) {
            var acc = 0L
            var i = 0
            while (i < subDim) {
              val d = qv(s * subDim + i) - book(s)(c)(i)
              acc += d * d
              i += 1
            }
            if (acc < best) best = acc
            c += 1
          }
          tot += best
          s += 1
        }
        tot
      }.toDF("d").agg(sum("d")).head().getLong(0)
  }

  /** Asymmetric-distance (ADC) top-k through PQ codes: each query keeps
    * its EXACT micro-unit sub-vectors and looks distances up against the
    * codebook — dist(q, x) ≈ Σ_s table_q[s][code_s(x)] with
    * table_q[s][c] = ‖q_s − codeword_c‖² (the paper's ADC estimator; exact
    * int64 arithmetic end-to-end, so any engine ranks identically).
    *
    * Scale shape: the per-query tables (|queries|·m·ksub longs) compute
    * driver-side from the collected query rows — queries ≪ corpus is the
    * [[bruteForceTopK]] broadcast discipline — and embed as literal
    * arrays; the corpus side reads ONLY the codes table (m bytes/vector,
    * not 4·dim floats) in ONE map-side projection emitting every query's
    * distance per row (posexplode), then the per-query top-k window. For
    * billion-vector corpora compose with the IVF store: probe lists first,
    * ADC-rank the survivors. Output: (query_id, corpus_id, adc_dist,
    * rank). */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame,
      queryIdCol: String, corpusIdCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, dim: Int = 64): DataFrame = {
    val subDim = dim / m
    // quantize the corpus once; the codebook collect and the encode pass
    // share the persisted frame instead of re-decoding parquet
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .persistTracked()
    val cb = pqCodebookQ(c, m, ksub, dim)
    val codes = pqEncodeQ(
      c.select(col("corpus_id").cast("long").as("id"), col("__cv").as("__qv")),
      cb, m, subDim)
      .withColumnRenamed("id", "corpus_id")
    // query ids ride int64 through the literal qi→id decode (the bounded
    // forms' requireIntegral discipline); densify string ids first
    val qRows = collectAdcQueries(queries, queryIdCol, vecCol, dim, m, ksub)
    // exact integer ADC tables, driver-side: queries are bounded by the
    // same contract that lets bruteForceTopK broadcast them
    val tables = adcTables(qRows.map(_._2), cb, subDim)
    def adcFor(qi: Int): Column =
      (0 until m).map(s =>
        element_at(typedLit(tables(qi)(s).toSeq), col("codes")(s) + 1))
        .reduce(_ + _)
    val queryIds = qRows.map(_._1)
    val scored = codes
      .select(col("corpus_id"),
        posexplode(array(qRows.indices.map(adcFor): _*)).as(Seq("__qi", "adc_dist")))
      .select(element_at(typedLit(queryIds.toSeq), col("__qi") + 1).as("query_id"),
        col("corpus_id"), col("adc_dist"))
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("adc_dist").asc, col("corpus_id").asc), k, rankCol = "rank")
  }

  /** Driver-side memo of persisted-index metadata (PQ codebook + centroid
    * rows), keyed on (store root, feature, pqbook version, centroids
    * version) — store versions are immutable and the loader PINS both
    * reads to the versions captured in the key (`asOfVersion`), so a
    * cached entry can never be torn by an index rebuild racing a query: a
    * rebuilt index bumps the versions and naturally misses. Bounded by
    * distinct indexes a driver serves (and a 64-entry hard cap evicting
    * under the map's own lock — metadata is a few KB, the cap is a leak
    * backstop for index-churning tests). */
  private val pqIndexMetaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long, Long),
      (Array[Array[Array[Long]]], Array[(Long, Array[Long])])]() {
    }

  /** Hard cap on |queries|·m·ksub literal ADC-table entries embedded in the
    * plan (2^20 longs ≈ 8 MB — the Lloyd 16M-row driver guard's
    * discipline): the ADC rankers ship per-query distance tables AS PLAN
    * LITERALS, so an unbounded query side would explode the plan and the
    * driver long before any executor saw work. */
  val MaxAdcTableEntries: Long = 1L << 20

  /** Collect the (bounded) ADC query side — id-sorted quantized rows — with
    * the [[MaxAdcTableEntries]] guard enforced BEFORE the driver holds more
    * than one row past the cap (collect is limit-pushed). */
  private def collectAdcQueries(queries: DataFrame, queryIdCol: String,
      vecCol: String, dim: Int, m: Int, ksub: Int): Array[(Long, Array[Long])] = {
    val maxQ = (MaxAdcTableEntries / (m.toLong * ksub)).toInt
    val rows = queries
      .select(col(queryIdCol).cast("long").as("__id"), quantize(col(vecCol), dim).as("__qv"))
      .orderBy(col("__id").asc_nulls_last)
      .limit(maxQ + 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    require(rows.length <= maxQ,
      s"ADC ranker: more than $maxQ queries at m=$m, ksub=$ksub — per-query " +
        s"distance tables are plan literals capped at $MaxAdcTableEntries " +
        "entries; rank the query set in batches (the persisted IVF-PQ index " +
        "serves each batch without rebuilding anything)")
    rows
  }

  /** Exact int64 dot product on driver-side arrays — the Scala twin of the
    * [[dotQ]] expression (identical arithmetic, so driver-side probe
    * decisions reproduce the window form bit-for-bit). */
  private def ddot(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Driver-side nprobe selection over collected query/centroid rows —
    * arithmetic bit-identical to the `TopK.perGroup(__psim desc, cent_id
    * asc)` window form (exact int64 dots; cosine = dot /
    * sqrt(double·double); ties → smaller cent_id). Shared by the indexed
    * and composed IVF-PQ rankers; spec-asserted ≡ the window route. */
  private def selectProbes(qRows: Array[(Long, Array[Long])],
      centRows: Array[(Long, Array[Long])], nprobe: Int): Seq[(Long, Long)] = {
    val centNorms = centRows.map { case (_, cv) => ddot(cv, cv) }
    qRows.toSeq.flatMap { case (qid, qv) =>
      val qn = ddot(qv, qv)
      centRows.zip(centNorms).map { case ((cid, cv), cn) =>
        val cos = if (qn == 0L || cn == 0L) 0.0
          else ddot(qv, cv).toDouble / math.sqrt(qn.toDouble * cn.toDouble)
        (cid, cos)
      }.sortBy { case (cid, cos) => (-cos, cid) }
        .take(nprobe).map { case (cid, _) => (qid, cid) }
    }
  }

  /** ‖q_s − codeword_c‖² for every (query, subspace, codeword) — the exact
    * int64 ADC tables both PQ rankers share. */
  private def adcTables(qvs: Array[Array[Long]], cb: Array[Array[Array[Long]]],
      subDim: Int): Array[Array[Array[Long]]] =
    qvs.map { qv =>
      Array.tabulate(cb.length) { s =>
        cb(s).map { cw =>
          var acc = 0L
          var i = 0
          while (i < subDim) {
            val d = qv(s * subDim + i) - cw(i)
            acc += d * d
            i += 1
          }
          acc
        }
      }
    }

  /** Greedy k-center (farthest-point) coreset selection — the classic
    * diverse-subset primitive for training-data curation (coresets /
    * active-learning seed sets): start from the smallest-id vector, then
    * k−1 times add the point FARTHEST from everything selected so far
    * (exact int64 squared L2 over micro-units; ties → smaller id). The
    * greedy sequence is a 2-approximation of the optimal k-center cover —
    * the standard guarantee — and fully deterministic, so the whole
    * selection is oracle-reproducible.
    *
    * Output: (rank, vec_id, sel_dist) — selection order 1..k and each
    * pick's squared distance to the nearest PREVIOUSLY selected point
    * (the seed reports 0). A corpus smaller than k yields one row per
    * vector.
    *
    * Scale shape: k bounded corpus passes (one TakeOrdered argmax per
    * round) over a persisted quantized frame — never corpus×corpus. The
    * running min-distance-to-selected is an ACCUMULATED persisted column:
    * round r folds ONE fused dot (the newest center, a plan literal) into
    * the previous round's `__d` via `least`, so total work is O(k·N) dots —
    * not O(k²·N) recomputed from all r centers each round. Every 8th round
    * localCheckpoints to truncate the `least`-chain lineage (the
    * [[graft.ops.Dedup.nearDupClusters]] discipline): the driver re-plans a
    * bounded tree per round and an evicted cached partition can only
    * cascade back to the last checkpoint, not to round 0. (k is small by
    * contract — this is a coreset picker, not a clusterer; use
    * [[kmeansCentroids]] for large k.) */
  def kCenterGreedy(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int = 64): DataFrame = {
    require(k >= 1 && k <= 256, s"k must be in [1,256] (greedy coreset picker), got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus
      .select(col(idCol).cast("long").as("vec_id"), quantize(col(vecCol), dim).as("__qv"))
      .withColumn("__n", dotQ(col("__qv"), col("__qv"), dim))
      .persistTracked()
    // L2(v, center) = v·v − 2·v·c + c·c — one fused dot against the
    // literal center plus the precomputed row norm
    def l2To(center: Array[Long]): Column = {
      val cn = ddot(center, center)
      col("__n") - lit(2L) * dotQ(col("__qv"), typedLit(center.toSeq), dim) + lit(cn)
    }
    val first = c.orderBy(col("vec_id").asc_nulls_last).limit(1)
      .select(col("vec_id"), col("__qv")).collect()
    if (first.isEmpty)
      return Seq.empty[(Int, Long, Long)].toDF("rank", "vec_id", "sel_dist")
    val firstId = first(0).getLong(0)
    val firstVec = first(0).getSeq[Long](1).toArray
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)](
      (1, firstId, 0L))
    // candidates with the accumulated min distance to everything selected;
    // the shared greedyRounds loop owns the persist/checkpoint lifecycle
    greedyRounds(
      c.where(col("vec_id") =!= lit(firstId))
        .select(col("vec_id"), col("__qv"), col("__n"), l2To(firstVec).as("__d")),
      k - 1,
      pick = cur => cur.orderBy(col("__d").desc, col("vec_id").asc).limit(1)
        .collect().headOption,
      grow = (cur, row) => cur.where(col("vec_id") =!= lit(row.getLong(0)))
        .withColumn("__d", least(col("__d"), l2To(row.getSeq[Long](1).toArray)))
    ) { (r, row) => out += ((r + 1, row.getLong(0), row.getLong(3))) }
    out.toSeq.toDF("rank", "vec_id", "sel_dist")
  }

  /** HARD-negative mining for contrastive-pair prep — the other half of
    * [[graft.ops.Shards.sampleNegatives]]'s random draw: for each anchor,
    * the k corpus vectors MOST similar to it that are not the anchor
    * itself (the standard in-batch-hard-negatives recipe mined offline:
    * near-misses teach the margin, random negatives are too easy).
    * Optionally cap similarity at `maxCosine` to exclude exact/near
    * duplicates from the negative pool (a duplicate is a false negative —
    * the positive in disguise). Same exact-integer cosine and
    * (cosine desc, id asc) total order as the whole ANN family, so the
    * mined set is oracle-reproducible.
    *
    * Scale shape: the anchor side broadcasts ([[bruteForceTopK]]'s
    * contract — anchors ≪ corpus), the corpus streams once, per-anchor
    * top-k is a keyed window. The broadcast is a LOUD CONTRACT, enforced
    * IN-PLAN by a scalar-count guard riding the broadcast build (the
    * `maxBroadcastTransitions` discipline — no extra driver-side count
    * job): contrastive-pair prep often mines negatives for EVERY training
    * example, and an anchor set at corpus scale must fail by NAME here —
    * not as a generic executor OOM mid-broadcast. For corpus-scale anchor
    * sets, persist an IVF(-PQ) index over the corpus once
    * ([[indexVectors]] / [[indexVectorsPq]]) and mine per anchor shard
    * through [[searchIndexed]] / [[searchIndexedPq]] (filtering self-ids
    * and `cosine > maxCosine` from each shard's results) — this op is the
    * exact-mining form for anchor batches that fit a broadcast. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
      anchorIdCol: String, corpusIdCol: String, vecCol: String, k: Int,
      maxCosine: Double = 1.0, dim: Int = 64,
      maxBroadcastAnchors: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxBroadcastAnchors >= 1,
      s"maxBroadcastAnchors must be >= 1, got $maxBroadcastAnchors — there " +
        "is no non-broadcast route inside this op; corpus-scale anchor sets " +
        "go through searchIndexed/searchIndexedPq per anchor shard")
    // persisted (lazy): the guard's count agg AND the broadcast rows both
    // read the anchor frame inside the one build — uncached, an anchor set
    // derived by projecting a big table (the q195 shape: a filter over the
    // full embeddings table) would scan that table twice per build
    val q0 = anchors.select(col(anchorIdCol).as("anchor_id"), quantize(col(vecCol), dim).as("__qv"))
      .withColumn("__qn", dotQ(col("__qv"), col("__qv"), dim))
      .persistTracked()
    // in-plan anchor-count guard: rides the broadcast build as a scalar
    // branch — a too-big anchor frame aborts with the contract error
    // before the executors try to materialize it row-by-row
    val nA = q0.agg(count(lit(1)).as("__na"))
    val q = q0.crossJoin(nA)
      .select(col("anchor_id"), col("__qv"),
        (col("__qn") + when(col("__na") > maxBroadcastAnchors,
          raise_error(concat(lit("hardNegatives: anchor set has "),
            col("__na"),
            lit(s" rows > maxBroadcastAnchors=$maxBroadcastAnchors — this " +
              "op broadcasts the anchors (exact mining for anchor batches); " +
              "for corpus-scale anchor sets mine per anchor shard through a " +
              "persisted index (indexVectors + searchIndexed, or " +
              "indexVectorsPq + searchIndexedPq), or raise the cap if the " +
              "executors have the memory")))).otherwise(lit(0L))).as("__qn"))
    val c = corpus.select(col(corpusIdCol).as("neg_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
    val scored = c.join(broadcast(q))
      .select(col("anchor_id"), col("neg_id"),
        cosineFromParts(dotQ(col("__qv"), col("__cv"), dim), col("__qn"), col("__cn")).as("cosine"))
      .where(col("neg_id") =!= col("anchor_id") && col("cosine") <= maxCosine)
    TopK.perGroup(scored, Seq("anchor_id"),
      Seq(col("cosine").desc, col("neg_id").asc), k, rankCol = "neg_rank")
  }

  /** SEMANTIC benchmark decontamination — the embedding-space leg of the
    * decontamination family: exact (q99), Bloom (q133) and n-gram-overlap
    * (q142) checks all miss a PARAPHRASED eval item; the standard closing
    * recipe flags every training document whose embedding lands within
    * `threshold` cosine of ANY benchmark item. Output: one row per corpus
    * document (eval set non-empty), (corpus_id, max_eval_cosine,
    * nearest_eval_id, contaminated) — the max cosine is there so the
    * threshold can be tuned from one run; ties on cosine break toward the
    * smaller eval id, so the nearest-item attribution is deterministic
    * and oracle-reproducible (exact int64 dots → one correctly-rounded
    * double division each, the family's standard argument). A benchmark
    * item that IS in the corpus scores 1.0 against itself — correctly
    * flagged: that's literal contamination. An EMPTY eval set yields an
    * empty frame (vacuously nothing to flag).
    *
    * Scale shape: benchmarks are small by nature — the eval side
    * broadcasts UNDER the loud in-plan `maxBroadcastEval` guard (the
    * `maxBroadcastAnchors` discipline), the corpus streams ONCE with a
    * map-side partial max per document (no corpus-width shuffle: the
    * exchange carries (corpus_id, best-so-far) pairs), and there is no
    * candidate blow-up because the per-document state is one running
    * struct. For an eval set too big to broadcast, index it once
    * ([[indexVectors]]) and run corpus shards through [[searchIndexed]]
    * instead. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      corpusIdCol: String, evalIdCol: String, vecCol: String,
      threshold: Double, dim: Int = 64,
      maxBroadcastEval: Long = 1L << 20): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold is a cosine, must be in [-1, 1], got $threshold")
    require(maxBroadcastEval >= 1,
      s"maxBroadcastEval must be >= 1, got $maxBroadcastEval")
    // the argmax rides max(struct(cosine, -eval_id)) — negation needs an
    // integral id; a string id would implicitly cast to double under
    // non-ANSI mode and yield a NULL nearest_eval_id instead of failing
    evalSet.schema(evalIdCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"semanticDecontaminate: evalIdCol '$evalIdCol' must be an integral " +
          s"type (the tie-breaking argmax negates it), got $other — densify " +
          "string benchmark-item ids to int64 first")
    }
    // persisted (lazy): the guard's count agg and the broadcast rows both
    // read the eval frame inside the one build (the hardNegatives shape)
    val e0 = evalSet.select(col(evalIdCol).as("eval_id"), quantize(col(vecCol), dim).as("__ev"))
      .withColumn("__en", dotQ(col("__ev"), col("__ev"), dim))
      .persistTracked()
    val nE = e0.agg(count(lit(1)).as("__ne"))
    val e = e0.crossJoin(nE)
      .select(col("eval_id"), col("__ev"),
        (col("__en") + when(col("__ne") > maxBroadcastEval,
          raise_error(concat(lit("semanticDecontaminate: eval set has "),
            col("__ne"),
            lit(s" rows > maxBroadcastEval=$maxBroadcastEval — this op " +
              "broadcasts the benchmark side (benchmarks are small); for " +
              "an eval set this large, index it once (indexVectors) and " +
              "run corpus shards through searchIndexed, or raise the cap " +
              "if the executors have the memory")))).otherwise(lit(0L))).as("__en"))
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
    val scored = c.join(broadcast(e))
      .select(col("corpus_id"), col("eval_id"),
        cosineFromParts(dotQ(col("__ev"), col("__cv"), dim), col("__en"), col("__cn")).as("cosine"))
    // running (cosine, -eval_id) struct max == (cosine desc, eval_id asc)
    // argmax — a partial-aggregable scalar, not a per-group window, so the
    // corpus never shuffles at full width
    scored
      .groupBy("corpus_id")
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("__nid"))).as("__m"))
      .select(col("corpus_id"),
        col("__m.cosine").as("max_eval_cosine"),
        (-col("__m.__nid")).as("nearest_eval_id"),
        (col("__m.cosine") >= threshold).as("contaminated"))
  }

  /** Shared driver loop for the greedy argmax family ([[kCenterGreedy]],
    * [[mmrSelect]]): up to `rounds` iterations of (argmax ACTION over the
    * persisted candidate frame) → (filter the pick out + fold it into the
    * accumulated column via `grow`), with the cache lifecycle handled ONCE:
    * the round-before frame unpersists only AFTER the next action has
    * materialized its successor (its cache may one-step-recompute from
    * it), and every 8th round localCheckpoints to truncate lineage.
    * `pick` returns None when the candidates are exhausted. */
  private def greedyRounds(init: DataFrame, rounds: Int,
      pick: DataFrame => Option[org.apache.spark.sql.Row],
      grow: (DataFrame, org.apache.spark.sql.Row) => DataFrame)
      (emit: (Int, org.apache.spark.sql.Row) => Unit): Unit = {
    var cur = init.persistTracked()
    var prev: DataFrame = null
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val p = pick(cur)
      // this action materialized `cur`; the round-before frame can go now
      if (prev != null) { prev.unpersist(); prev = null }
      p match {
        case None => exhausted = true
        case Some(row) =>
          emit(r, row)
          r += 1
          if (r <= rounds) {
            val grown = grow(cur, row)
            if (r % 8 == 0) {
              // eager: materializes from the still-cached cur, then truncates
              val next = grown.localCheckpoint()
              cur.unpersist()
              cur = next
            } else {
              prev = cur
              cur = grown.persistTracked()
            }
          }
      }
    }
    cur.unpersist()
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998,
    * SIGIR): greedily pick k corpus vectors maximizing
    * `λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)` — the standard
    * retrieve-then-diversify step (RAG context assembly, diverse few-shot
    * pools). λ rides as an exact micro-integer (`lambdaMicro`/10⁶;
    * 10⁶ = pure relevance, 0 = pure diversity) and the emitted
    * `mmr_score` stays ×10⁶-scaled — each score is two correctly-rounded
    * double ops over the exact-integer cosine parts, so the greedy choice
    * sequence is engine-reproducible (same tie-break: score desc, id asc;
    * the first pick maximizes relevance — `__maxsim` starts at 0).
    *
    * Same shape and cost discipline as [[kCenterGreedy]]: k bounded
    * argmax passes over a persisted quantized frame carrying an
    * ACCUMULATED `greatest(prev, cos(d, newest))` column — O(k·N) total,
    * one fused dot per row per round, selected vectors as plan literals,
    * lineage truncated every 8 rounds. Ground-truth relevance is one
    * broadcast-free map pass (the query is a literal). */
  def mmrSelect(corpus: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int,
      lambdaMicro: Long = 700000L, dim: Int = 64): DataFrame = {
    require(k >= 1 && k <= 256, s"k must be in [1,256] (greedy MMR picker), got $k")
    require(lambdaMicro >= 0L && lambdaMicro <= 1000000L,
      s"lambdaMicro must be in [0, 1000000], got $lambdaMicro")
    val spark = corpus.sparkSession
    import spark.implicits._
    // exactly-one-row contract: limit(1) without an ordering would pick a
    // partition-order-dependent row and silently break the op's
    // engine-reproducibility guarantee on a multi-row query frame
    val qRow = query.select(quantize(col(queryVecCol), dim).as("__q")).limit(2).collect()
    require(qRow.length == 1,
      s"mmrSelect: query frame must have exactly ONE row, got ${
        if (qRow.isEmpty) "0" else "2+"} — pass a single query vector")
    val qv = qRow(0).getSeq[Long](0).toArray
    val qn = ddot(qv, qv)
    def cosTo(v: Array[Long]): Column =
      cosineFromParts(dotQ(col("__qv"), typedLit(v.toSeq), dim), col("__n"), lit(ddot(v, v)))
    val score =
      lit(lambdaMicro) * col("__rel") - lit(1000000L - lambdaMicro) * col("__maxsim")
    val c = corpus
      .select(col(idCol).cast("long").as("vec_id"), quantize(col(vecCol), dim).as("__qv"))
      .withColumn("__n", dotQ(col("__qv"), col("__qv"), dim))
      .withColumn("__rel",
        cosineFromParts(dotQ(col("__qv"), typedLit(qv.toSeq), dim), col("__n"), lit(qn)))
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)]()
    greedyRounds(
      c.withColumn("__maxsim", lit(0.0)), k,
      pick = cur => cur.withColumn("__s", score)
        .orderBy(col("__s").desc, col("vec_id").asc).limit(1)
        .select(col("vec_id"), col("__qv"), col("__s")).collect().headOption,
      grow = (cur, row) => cur.where(col("vec_id") =!= lit(row.getLong(0)))
        .withColumn("__maxsim",
          greatest(col("__maxsim"), cosTo(row.getSeq[Long](1).toArray)))
    ) { (r, row) => out += ((r, row.getLong(0), row.getDouble(2))) }
    out.toSeq.toDF("rank", "vec_id", "mmr_score")
  }

  /** Persist an IVF-PQ index: the [[indexVectors]] layout with the raw
    * quantized vectors replaced by m-byte PQ codes — per-row storage drops
    * from 8·dim bytes to m (+ id), so the same probe IO covers a 64×
    * larger corpus. Writes `<feature>_pqlists` (bucketed BY LIST ID — a
    * query reads only its probed buckets), `<feature>_centroids`, and
    * `<feature>_pqbook` (m·ksub codeword rows, one bucket — read in full
    * by every search, the centroid-table discipline). */
  def indexVectorsPq(corpus: DataFrame, corpusIdCol: String, vecCol: String,
      store: graft.core.BucketedStore, feature: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16, dim: Int = 64): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
      .persistTracked()
    val cent = seedCentroids(c, nlist)
    val lists = assignToLists(c, cent, dim)
      .select(col("cent_id"), col("corpus_id").cast("long").as("corpus_id"))
    val cb = pqCodebookQ(c, m, ksub, dim)
    val codes = pqEncodeQ(
      c.select(col("corpus_id").cast("long").as("id"), col("__cv").as("__qv")),
      cb, m, dim / m)
      .withColumnRenamed("id", "corpus_id")
    store.write(lists.join(codes, "corpus_id"), s"${feature}_pqlists", Seq("cent_id"))
    writeCentroids(store, feature, cent)
    val bookRows = for (s <- 0 until m; cw <- 0 until cb(s).length)
      yield (s, cw, cb(s)(cw).toSeq)
    store.write(bookRows.toDF("pq_s", "pq_code", "pq_centv").withColumn("__ck", lit(0)),
      s"${feature}_pqbook", Seq("__ck"))
  }

  /** Recall@k CURVE for the IVF geometry — the nprobe tuning measurement,
    * whole trade-off in ONE run instead of nlist re-runs. Ground truth is
    * brute-force cosine top-k; each true (query, neighbor) pair resolves to
    * the probe RANK of the neighbor's assigned list in the query's centroid
    * ordering, and recall@p for every p in 1..nlist is then one conditional
    * count over the |Q|·k pair frame: a true neighbor is found at nprobe=p
    * iff its list's probe rank ≤ p (exactly the candidate rule [[ivfTopK]]
    * applies, so found@p ≡ |ivfTopK(nprobe=p) ∩ truth| — spec-asserted).
    * Arithmetic matches [[ivfTopK]] bit-for-bit (same seed centroids, same
    * rank-1 assignment, same tie-breaks), so the curve is
    * oracle-reproducible. `recall_micro` = 10⁶·found // true (exact
    * integer). Scale shape: the corpus streams TWICE against broadcast
    * sides (list assignment; ground-truth scoring), never corpus×corpus —
    * but ground truth is inherently O(|Q|·N), so run it over a SAMPLED
    * query batch (standard index-calibration practice). */
  def ivfRecallCurve(queries: DataFrame, corpus: DataFrame,
      queryIdCol: String, corpusIdCol: String, vecCol: String,
      k: Int, nlist: Int = 16, dim: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nlist >= 1 && nlist <= 65536, s"nlist must be in [1, 65536], got $nlist")
    val spark = queries.sparkSession
    // persistTracked (no explicit unpersist): the returned plan is LAZY —
    // both frames are multiply-referenced by it, and the tracked cache is
    // dropped by the harness's clearCache between queries
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
      .persistTracked()
    val cent = seedCentroids(c, nlist)
      val assigned = assignToLists(c, cent, dim).select("corpus_id", "cent_id")
      val q = queries.select(col(queryIdCol).as("query_id"), quantize(col(vecCol), dim).as("__qv"))
        .withColumn("__qn", dotQ(col("__qv"), col("__qv"), dim))
      // ground truth: query side broadcast, corpus streams once
      val truth = TopK.perGroup(
        c.join(broadcast(q))
          .select(col("query_id"), col("corpus_id"),
            cosineFromParts(dotQ(col("__qv"), col("__cv"), dim), col("__qn"), col("__cn")).as("__cos")),
        Seq("query_id"), Seq(col("__cos").desc, col("corpus_id").asc), k, rankCol = "__tr")
        .select("query_id", "corpus_id")
      // FULL probe ranking: every centroid's rank per query (|Q|·nlist rows)
      val pranks = TopK.perGroup(
        q.join(broadcast(cent))
          .select(col("query_id"), col("cent_id"),
            cosineFromParts(dotQ(col("__qv"), col("__centv"), dim), col("__qn"), col("__centn")).as("__psim")),
        Seq("query_id"), Seq(col("__psim").desc, col("cent_id").asc), nlist,
        rankCol = "probe_rank")
        .select(col("query_id"), col("cent_id"), col("probe_rank"))
      // per true pair: the probe rank of its list (truth is |Q|·k — broadcast
      // against the corpus-sized assignment; pranks is |Q|·nlist)
      val hits = assigned.join(broadcast(truth), Seq("corpus_id"))
        .join(broadcast(pranks), Seq("query_id", "cent_id"))
        .select(col("query_id"), col("probe_rank"))
      // ≤nlist histogram rows carry the whole curve; totals stay in-plan
      val hist = hits.groupBy("probe_rank").agg(count(lit(1)).as("__n"))
        .persistTracked()
      val tot = hist.agg(coalesce(sum("__n"), lit(0L)).as("n_true"))
      spark.range(1, nlist + 1).toDF("__p")
        .join(hist, col("probe_rank") <= col("__p"), "left")
        .groupBy("__p").agg(coalesce(sum("__n"), lit(0L)).as("n_found"))
        .crossJoin(broadcast(tot))
        .select(col("__p").cast("int").as("nprobe"), col("n_found"), col("n_true"),
          when(col("n_true") === 0, lit(0L))
            .otherwise(expr("(1000000 * n_found) div n_true")).as("recall_micro"))
  }

  /** Reconstruct the m×ksub codebook from a stored `<feature>_pqbook`
    * table (optionally at a pinned version) — shared by the serving-path
    * metadata cache and the append path, so both decode the exact layout
    * [[indexVectorsPq]] wrote. */
  private def readPqBook(store: graft.core.BucketedStore, feature: String,
      version: Option[Long] = None): Array[Array[Array[Long]]] = {
    val bookRows = store.read(s"${feature}_pqbook", Seq("__ck"), version)
      .select(col("pq_s"), col("pq_code"), col("pq_centv")).collect()
    require(bookRows.nonEmpty, s"no ${feature}_pqbook rows in store ${store.root}")
    val mm = bookRows.map(_.getInt(0)).max + 1
    val kk = bookRows.map(_.getInt(1)).max + 1
    val book = Array.ofDim[Array[Long]](mm, kk)
    bookRows.foreach(r => book(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2).toArray)
    book
  }

  /** O(batch) growth for the PERSISTED IVF-PQ index — the
    * [[appendToVectorIndex]] cycle for the m-byte-code form. New vectors are
    * routed by the STORED centroids and encoded with the STORED codebook
    * (geometry pinned — append never retrains), then appended to the touched
    * list buckets only: no existing index file is read or rewritten, so
    * ingest cost is independent of index size. Run [[relistPqIndex]] on a
    * cadence once appends have outgrown the build-time geometry. */
  def appendToPqIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      store: graft.core.BucketedStore, feature: String,
      dim: Int = 64): Unit = {
    val cent = store.read(s"${feature}_centroids", Seq("cent_id"))
      .select(col("cent_id"), col("__centv"))
      .withColumn("__centn", dotQ(col("__centv"), col("__centv"), dim))
    val cb = readPqBook(store, feature)
    require(dim % cb.length == 0,
      s"stored codebook has m=${cb.length} subspaces — dim $dim must divide into them")
    // batch-sized frame shared by the assignment and encode passes
    val c = newVecs.select(col(idCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
      .persistTracked()
    try {
      val lists = assignToLists(c, cent, dim)
        .select(col("cent_id"), col("corpus_id").cast("long").as("corpus_id"))
      val codes = pqEncodeQ(
        c.select(col("corpus_id").cast("long").as("id"), col("__cv").as("__qv")),
        cb, cb.length, dim / cb.length)
        .withColumnRenamed("id", "corpus_id")
      store.appendBucketed(s"${feature}_pqlists", lists.join(codes, "corpus_id"),
        Seq("cent_id"))
      ()
    } finally c.unpersist(false)
  }

  /** Index MAINTENANCE for the PQ form — [[relistVectorIndex]]'s cadence
    * contract for [[indexVectorsPq]] stores. Unlike the plain-IVF relist,
    * which retrains from its OWN stored lists (they carry the exact
    * quantized vectors), PQ codes are lossy — a retrain that re-seeded
    * centroids or codewords from decoded approximations would drift from
    * the ≡-rebuilt guarantee. So the PQ relist reads the source-of-truth
    * corpus (the table the index serves — at 100 TB the raw vectors live
    * there regardless) and retrains at the geometry the CURRENT corpus
    * size calls for: `nlist = autoNlist(N)` unless pinned. All three index
    * tables are rewritten as new store versions — time travel to the old
    * geometry stays free, the full `_pqlists` write folds any
    * [[appendToPqIndex]] dirs (subsuming that cycle's compaction), and old
    * versions fall to `store.vacuum` on the operator's retention horizon.
    * A relisted index answers IDENTICALLY to one built fresh from the same
    * corpus (deterministic seeding; spec-asserted), and the serving-path
    * metadata cache misses naturally on the bumped versions. Returns the
    * new list count. */
  def relistPqIndex(corpus: DataFrame, corpusIdCol: String, vecCol: String,
      store: graft.core.BucketedStore, feature: String,
      nlist: Int = 0, m: Int = 8, ksub: Int = 16, dim: Int = 64): Int = {
    val nl = if (nlist > 0) nlist else autoNlist(corpus.count())
    indexVectorsPq(corpus, corpusIdCol, vecCol, store, feature, nl, m, ksub, dim)
    nl
  }

  /** Serve ADC top-k through a persisted IVF-PQ index: probe the
    * `nprobe` nearest centroid buckets (`readTouched` — IO = probed
    * buckets of the m-byte codes table, independent of corpus size), rank
    * with the exact-integer ADC tables. Result ≡ [[ivfPqTopK]] on the
    * same geometry (spec-asserted). */
  def searchIndexedPq(queries: DataFrame, queryIdCol: String, vecCol: String,
      store: graft.core.BucketedStore, feature: String, k: Int,
      nprobe: Int = 4, dim: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // everything the probe decision needs is ALREADY driver-bounded: the
    // codebook (m·ksub rows), the centroid table (nlist rows) and the query
    // side (the ADC broadcast contract). Selecting probes driver-side —
    // with arithmetic bit-identical to the TopK.perGroup window form
    // (exact int64 dots, cosine = dot / sqrt(double·double), ties → smaller
    // cent_id; spec-asserted ≡ ivfPqTopK) — removes the probe job and its
    // cached frame entirely: the only cluster work left is the query scan
    // and ONE probed-buckets job.
    // index metadata (codebook + centroids) is IMMUTABLE per store version
    // — memoized driver-side keyed on (root, feature, version), so a
    // serving loop pays the two metadata reads once per index build, not
    // per query batch (cache invalidates itself: a new build bumps the
    // version and misses)
    val bookV = store.latestVersion(s"${feature}_pqbook").getOrElse(
      sys.error(s"no ${feature}_pqbook in store ${store.root}"))
    val centV = store.latestVersion(s"${feature}_centroids").getOrElse(
      sys.error(s"no ${feature}_centroids in store ${store.root}"))
    val metaKey = (store.root, feature, bookV, centV)
    // leak backstop: the cap is APPROXIMATE — synchronizing here only
    // serializes concurrent clears; computeIfAbsent uses the map's
    // internal bin locks, not this monitor, so an in-flight load can
    // land after a clear (harmless: the entry is re-read from its pinned
    // versions on the next miss) and the size can transiently exceed 64
    pqIndexMetaCache.synchronized {
      if (pqIndexMetaCache.size > 64) pqIndexMetaCache.clear()
    }
    val (cb, centRows) = pqIndexMetaCache.computeIfAbsent(metaKey, _ => {
      // reads PINNED to the key's versions: a rebuild racing this load can
      // never produce a cached codebook/centroid pair from two builds
      val book = readPqBook(store, feature, Some(bookV))
      val cents = store.read(s"${feature}_centroids", Seq("cent_id"), Some(centV))
        .select(col("cent_id"), col("__centv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
      (book, cents)
    })
    val m = cb.length
    val ksub = cb(0).length
    val subDim = dim / m
    val qRows = collectAdcQueries(queries, queryIdCol, vecCol, dim, m, ksub)
    val probes = selectProbes(qRows, centRows, nprobe).toDF("query_id", "cent_id")
    val tables = adcTables(qRows.map(_._2), cb, subDim)
    val litTables = typedLit(qRows.map(_._1)
      .zip(tables.map(_.map(_.toSeq).toSeq)).toMap)
    val dist = (0 until m).map(s =>
      element_at(element_at(element_at(litTables, col("query_id")), s + 1),
        col("codes")(s) + 1)).reduce(_ + _)
    val listsSubset = store.readTouched(s"${feature}_pqlists", Seq("cent_id"),
      probes.select("cent_id"))
    val scored = broadcast(probes)
      .join(listsSubset.select(col("cent_id"), col("corpus_id"), col("codes")),
        Seq("cent_id"))
      .select(col("query_id"), col("corpus_id"), dist.as("adc_dist"))
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("adc_dist").asc, col("corpus_id").asc), k, rankCol = "rank")
  }

  /** IVF-PQ top-k — the standard billion-vector recipe composed end-to-end
    * (Jégou et al. 2011 §V: coarse quantizer + product-quantized
    * residual-free variant): the IVF half restricts candidates to each
    * query's `nprobe` nearest inverted lists, the PQ half ranks the
    * survivors by exact-integer ADC distance over the m-byte codes. At
    * 10⁹ vectors the candidate scan reads nprobe/nlist of a CODES table
    * (m bytes/vector) instead of nprobe/nlist of raw floats — both axes
    * of the memory wall at once.
    *
    * Same deterministic geometry as the component ops (smallest-id seed
    * centroids and codewords, ties → smaller id/code), so the whole
    * composition stays oracle-reproducible (q176). The per-query ADC
    * tables ride a literal map (query_id → m×ksub table); candidates flow
    * through the cent_id-keyed probe join exactly as [[ivfTopK]].
    *
    * For a PERSISTED form, store `(cent_id, corpus_id, codes)` bucketed by
    * list id ([[indexVectors]]'s layout plus the codes column) — the probe
    * IO story is [[searchIndexed]]'s with 4·dim-byte rows shrunk to m. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      queryIdCol: String, corpusIdCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      dim: Int = 64): DataFrame = {
    val subDim = dim / m
    // the corpus quantizes ONCE into a persisted frame shared by all four
    // derivations (centroid seeding, list assignment, codebook seeds, PQ
    // encode) — the r11 shape re-read and re-quantized the corpus for each
    // of its driver-synchronous actions, which dominated wall time; the
    // persisted index route (indexVectorsPq/searchIndexedPq) still skips
    // every derivation entirely and is the serving path
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), quantize(col(vecCol), dim).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv"), dim))
      .persistTracked()
    // ONE bounded collect serves BOTH deterministic seed sets: the first
    // nlist smallest-id vectors are the centroids, the first ksub the PQ
    // codewords (the [[seedCentroids]]/[[pqCodebook]] discipline). The
    // centroid frame and the probe decision then live driver-side — no
    // probe window job, no separate codebook collect.
    val seedRows = c.orderBy(col("corpus_id").asc_nulls_last)
      .limit(math.max(nlist, ksub))
      .select(col("__cv")).collect().map(_.getSeq[Long](0).toArray)
    require(seedRows.length >= math.max(nlist, ksub),
      s"corpus has ${seedRows.length} < max(nlist=$nlist, ksub=$ksub) vectors")
    val cb = Array.tabulate(m)(s =>
      seedRows.take(ksub).map(v => v.slice(s * subDim, (s + 1) * subDim)))
    val centRows = seedRows.take(nlist).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val cent = centRows.toSeq.map { case (cid, v) => (cid, v.toSeq, ddot(v, v)) }
      .toDF("cent_id", "__centv", "__centn")
    val lists = assignToLists(c, cent, dim)
      .select(col("cent_id"), col("corpus_id").cast("long").as("corpus_id"))
    val codes = pqEncodeQ(
      c.select(col("corpus_id").cast("long").as("id"), col("__cv").as("__qv")),
      cb, m, subDim)
      .withColumnRenamed("id", "corpus_id")
    // one id-keyed join attaches codes to list rows; a PERSISTED index
    // writes them together and skips this entirely
    val listed = lists.join(codes, "corpus_id")
    val qRows = collectAdcQueries(queries, queryIdCol, vecCol, dim, m, ksub)
    val probes = selectProbes(qRows, centRows, nprobe).toDF("query_id", "cent_id")
    val tables = adcTables(qRows.map(_._2), cb, subDim)
    val tableMap: Map[Long, Seq[Seq[Long]]] = qRows.map(_._1)
      .zip(tables.map(_.map(_.toSeq).toSeq)).toMap
    val litTables = typedLit(tableMap)
    val dist = (0 until m).map(s =>
      element_at(element_at(element_at(litTables, col("query_id")), s + 1),
        col("codes")(s) + 1)).reduce(_ + _)
    val scored = broadcast(probes).join(listed, Seq("cent_id"))
      .select(col("query_id"), col("corpus_id"), dist.as("adc_dist"))
    TopK.perGroup(scored, Seq("query_id"),
      Seq(col("adc_dist").asc, col("corpus_id").asc), k, rankCol = "rank")
  }
}
