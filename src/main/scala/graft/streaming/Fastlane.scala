package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.fs.Path
import graft.core.{FeatureDef, Versioning}

/** Fastlane (serving) mode: the reference's single-row low-latency path
  * (reference: README.md:47-55 — "processing a single row — fastlane
  * (serving)", persistent cluster vs per-feature batch cluster).
  *
  * The SAME `FeatureDef.transform` that runs in batch runs here over a
  * Structured Streaming micro-batch or a single mini-frame — pipeline code
  * is mode-agnostic by construction (the reference's design goal). The one
  * serving lane is [[serveBucketed]] (streaming) / [[serveOnceBucketed]]
  * (one frame): each batch is MERGE-upserted into the
  * [[graft.core.BucketedStore]] keyed on the entity, rewriting only the
  * buckets it touches, so the stored table always holds the latest feature
  * value per entity — the exactly-once-ish contract is idempotent upsert by
  * (entityKey, __data_hash). The rest of the object is the monitoring and
  * ingest loops that keep profiles, indexes and deduped corpora current.
  */
object Fastlane {

  /** Streaming serving lane: each micro-batch goes through
    * [[serveOnceBucketed]], so the per-batch write cost is |touched
    * buckets|/numBuckets of the table — the serving loop whose steady-state
    * cost is independent of table size. First batch bootstraps the
    * feature; replays of a bootstrapped batch fall through to merge, which
    * is idempotent per (entityKey, __data_hash). */
  def serveBucketed(
      feature: FeatureDef,
      stream: DataFrame,
      store: graft.core.BucketedStore,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          serveOnceBucketed(feature, batch, store)
          ()
        }
      }
      .start()
  }

  /** Serve one mini-frame synchronously: transform, system columns, then
    * a FILE-LEVEL merge that rewrites only the bucket(s) the served keys
    * hash into — the serving write whose cost is independent of table
    * size. The first call bootstraps the feature with a full write (merge
    * requires a base version), so a stream's first batch and its
    * checkpoint replays need no special case. Returns the new version. */
  def serveOnceBucketed(feature: FeatureDef, rows: DataFrame,
                        store: graft.core.BucketedStore)
                       (implicit spark: SparkSession): Long = {
    val out = Versioning.withSystemColumns(feature.transform(rows), feature)
    if (store.latestVersion(feature.name).isEmpty)
      store.write(out, feature.name, feature.entityKeys)
    else
      store.merge(feature.name, out, feature.entityKeys)
  }

  /** Shared micro-batch scaffolding for the ingest loops: checkpointed
    * foreachBatch, empty batches skipped, and the ops' tracked internal
    * persists released after EVERY batch (bounded state for an unbounded
    * stream) — centralized so the three gates can't drift on the
    * release-ordering mechanics. */
  private def ingestLoop(stream: DataFrame, checkpointDir: String,
      trigger: Trigger)(body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          body(batch, batchId)
          graft.core.TrackedCache.release()
        }
      }
      .start()

  /** Shared body of the twelve additive profile-maintenance loops (token,
    * categorical, numeric and embedding; global and segmented; flat and
    * time-bucketed): per micro-batch, `builder` profiles ONLY the batch's
    * own rows and [[graft.core.BucketedStore.mergeAdd]] adds them into the
    * stored profile under the lineage's fence record ([[fencedApply]]) —
    * reading and rewriting only the hash buckets carrying the batch's
    * keys, one store version per batch (the fence itself commits no
    * version), the first batch writing the profile. ONE code path so the
    * loops cannot drift on the merge-add mechanics.
    *
    * Per-batch cost: the batch's emptiness check and the builder's own
    * jobs (its exchange and the collect `mergeAdd` makes of its rows).
    * `mergeAdd` then sums each touched bucket on the driver and writes it
    * as one part file, with no Spark write job; only a batch that widens
    * the profile's schema takes a Spark write. */
  private def ingestAdditive(
      stream: DataFrame, checkpointDir: String, trigger: Trigger,
      store: graft.core.BucketedStore, feature: String, keys: Seq[String])(
      builder: DataFrame => DataFrame)
      (implicit spark: SparkSession): StreamingQuery =
    ingestLoop(stream, checkpointDir, trigger) { (batch, batchId) =>
      fencedApply(store, feature, checkpointDir, batchId) {
        store.mergeAdd(feature, builder(batch), keys)
        ()
      }
    }

  /** Streaming retrieval-index maintenance — keep a persisted BM25
    * postings index current as documents arrive: each micro-batch appends
    * its docs to `corpusDir` and grows the index O(batch) via
    * [[graft.ops.TextOps.appendToBm25Index]] (the first batch bootstraps
    * with a full [[graft.ops.TextOps.indexBm25]] build). Because the
    * append contract is EXACT (grown == rebuilt: postings row-identical,
    * df/stats additive), the stream-grown index answers
    * [[graft.ops.TextOps.searchIndexedBm25]] queries identically to an
    * index built in ONE batch over the accumulated corpus — spec-asserted.
    * `compactEvery` folds appended posting dirs on a cadence; per-batch
    * cost is independent of corpus size everywhere the corpus is big.
    *
    * Replay contract: foreachBatch is at-least-once, and a blind re-apply
    * would double-count postings/df/stats (appends are not idempotent).
    * Each checkpoint lineage's cursor record ([[fencedApply]]) holds its
    * last applied batchId: a replayed batch is skipped, and a second
    * lineage writing the same feature has its own record, so it cannot
    * reset this lineage's fence. Residual double-apply windows: a crash
    * inside the apply→fence gap, and the operator error of re-running one
    * source through a FRESH checkpointDir (a new lineage legitimately starts at
    * batch 0 and re-applies everything — run [[bm25IndexConsistency]] on
    * an audit cadence to catch a double-grown index, and pair downstream
    * corpus readers with exact id dedup as with the sibling ingest ops).
    * Bootstrap keys off the STATS table (written last by both build and
    * append), so a build that crashed mid-way re-runs the full build
    * rather than wedging the append path on a half-written index. */
  def ingestBm25Indexed(
      stream: DataFrame, idCol: String, textCol: String,
      store: graft.core.BucketedStore, feature: String,
      corpusDir: String, checkpointDir: String,
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestLoop(stream, checkpointDir, trigger) { (batch, batchId) =>
      fencedApply(store, feature, checkpointDir, batchId) {
        // persisted: read by the corpus append AND the index build passes
        val docs = batch.select(col(idCol), col(textCol))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.write.mode("append").parquet(corpusDir)
        // stats is the LAST table both routes write — its absence means no
        // COMPLETE build exists, so rebuild rather than append onto a
        // half-written index
        if (store.latestVersion(s"${feature}_stats").isEmpty)
          graft.ops.TextOps.indexBm25(docs, idCol, textCol, store, feature)
        else
          graft.ops.TextOps.appendToBm25Index(docs, idCol, textCol, store, feature)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          // compaction re-publishes the trio commit record so pinned
          // readers move to the compacted postings version
          graft.ops.TextOps.compactBm25Postings(store, feature)
        docs.unpersist()
      }
      ()
    }

  /** Lineage-scoped at-least-once fence shared by the NON-IDEMPOTENT
    * ingest loops ([[ingestBm25Indexed]] and the twelve profile loops
    * through [[ingestAdditive]] — their applies add counts, so a blind
    * foreachBatch re-apply double-counts). The fence is the store's cursor
    * record ([[graft.core.BucketedStore.writeCursor]]) named after
    * (feature, lineage): it holds the lineage's last applied batch id, and
    * `body` runs iff `batchId` is above it, then the record advances to
    * `batchId`; a replayed batch is skipped. Reading and writing it are
    * driver file operations — no Spark job, no store commit.
    *
    * The fence is scoped to the CHECKPOINT LINEAGE: batchIds restart at 0
    * under a fresh checkpointDir, and an unscoped cursor would then
    * silently DROP legitimate new batches (worse than a replay), while one
    * record per lineage keeps two alternating lineages from resetting each
    * other's fence. A RESTARTED lineage (same source, fresh checkpointDir)
    * is a NEW lineage by construction — it re-applies every batch, so
    * growing one target from two lineages double-counts;
    * [[bm25IndexConsistency]] (and the profile monitors' own n-vs-corpus
    * audit) is the cheap detector for that operator-error class. The fence
    * write runs LAST: a crash inside the apply→fence gap replays the whole
    * batch (the residual at-least-once window every consumer of these loops
    * must pair with an audit cadence). */
  private def fencedApply(store: graft.core.BucketedStore, feature: String,
      lineage: String, batchId: Long)(body: => Unit): Unit = {
    val fence = store.cursorName("fence", feature, lineage)
    if (store.readCursor(fence).forall(applied => batchId > applied.trim.toLong)) {
      body
      store.writeCursor(fence, batchId.toString)
    }
  }

  /** Streaming TOKEN-profile maintenance — the text-side twin of
    * [[ingestEmbeddingProfile]]: each micro-batch counts ONLY its own
    * tokens ([[graft.ops.TextOps.tokenProfile]] — one batch-sized keyed
    * aggregation) and adds them into the stored vocab profile through
    * [[graft.core.BucketedStore.mergeAdd]]. Per-batch IO is O(batch +
    * touched buckets): only the hash buckets containing the batch's
    * tokens are read and rewritten, on the driver ([[ingestAdditive]]),
    * counts add as exact integers — a 10⁸-token vocabulary costs a batch
    * only its own token set. The
    * stream-grown profile is BIT-IDENTICAL to one counted over the
    * accumulated corpus
    * (spec-asserted), and [[graft.ops.TextOps.tokenDriftFromProfiles]]
    * serves the drift monitor against a reference profile without
    * re-touching the corpora. Adds are not idempotent → the lineage's
    * fence record ([[fencedApply]]), same residual windows and audit
    * discipline as the sibling loops (Σn == total tokens ingested is the
    * cheap audit). */
  def ingestTokenProfile(
      stream: DataFrame, textCol: String,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq("token"))(b => graft.ops.TextOps.tokenProfile(b, textCol))

  /** Streaming DRIFT-MONITOR maintenance — keep a persisted
    * [[graft.ops.Similarity.embeddingProfile]] current as embedding
    * batches arrive: each micro-batch profiles ONLY its own vectors
    * ((dim·bins)-row output, one corpus-free exchange) and adds the
    * counts into the stored profile keyed on (pos, bin) — profiles are
    * additive exact integers, so the stream-grown profile is
    * BIT-IDENTICAL to one computed over the accumulated corpus in a
    * single batch (spec-asserted), and
    * [[graft.ops.Similarity.embeddingDriftFromProfiles]] /
    * [[graft.ops.Similarity.embeddingShapeDriftFromProfiles]] answer both
    * monitors against a reference profile without ever re-touching the
    * corpora. Per-batch cost: O(batch) + a ≤ dim·bins-row
    * [[graft.core.BucketedStore.mergeAdd]] summed on the driver
    * ([[ingestAdditive]]), independent of corpus size.
    *
    * Replay contract: adds are not idempotent, so batches run under the
    * shared lineage fence ([[fencedApply]]) — same residual windows and
    * audit discipline as [[ingestBm25Indexed]]; the profile's own
    * Σn == dim · (vectors ingested) invariant is the cheap audit. */
  def ingestEmbeddingProfile(
      stream: DataFrame, vecCol: String,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      dim: Int = 64, bins: Int = 16, binWidthMicro: Long = 31250L,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq("pos", "bin"))(b =>
      graft.ops.Similarity.embeddingProfile(b, vecCol, dim, bins, binWidthMicro))

  /** SEGMENTED streaming token-profile maintenance —
    * [[ingestTokenProfile]] keyed (group, token): each micro-batch counts
    * its own (group, token) pairs
    * ([[graft.ops.TextOps.tokenProfileByGroup]]) and merge-ADDS them into
    * the stored segmented profile, so a per-source drift dashboard
    * ([[graft.ops.TextOps.tokenDriftByGroupFromProfiles]]) reads stored
    * profiles instead of re-scanning both corpora per refresh — the r15
    * asymmetry where only the GLOBAL monitors were profile-servable is
    * closed. Per-batch IO stays O(batch + touched buckets): `mergeAdd`
    * reads only the hash buckets containing the batch's (group, token)
    * keys, and NULL groups add as one group. Stream-grown ≡ batch-built
    * over the accumulated corpus (spec-asserted); adds are not idempotent
    * → the lineage's fence record ([[fencedApply]]); Σn == total tokens
    * ingested is the cheap audit. */
  def ingestTokenProfileByGroup(
      stream: DataFrame, textCol: String, groupCol: String,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq(groupCol, "token"))(b =>
      graft.ops.TextOps.tokenProfileByGroup(b, textCol, groupCol))

  /** Streaming SCALAR-monitor maintenance — keep a persisted
    * [[graft.ops.Stats.numericProfile]] current as batches arrive: each
    * micro-batch bins ONLY its own values (≤ bins rows, one corpus-free
    * exchange) and merge-ADDS the counts into the stored profile keyed on
    * bin. Profiles are additive exact integers, so the stream-grown
    * profile is BIT-IDENTICAL to one computed over the accumulated corpus
    * in a single batch (spec-asserted), and
    * [[graft.ops.Stats.numericShapeDriftFromProfiles]] serves the scalar
    * drift monitor against a reference profile without re-touching the
    * corpora.
    *
    * Replay contract: adds are not idempotent → the lineage's fence record
    * ([[fencedApply]]); Σn == values ingested is the cheap audit. */
  def ingestNumericProfile(
      stream: DataFrame, valueCol: String,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      bins: Int = 16, binWidthMicro: Long = 31250000L,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq("bin"))(b =>
      graft.ops.Stats.numericProfile(b, valueCol, bins, binWidthMicro))

  /** SEGMENTED streaming scalar-monitor maintenance —
    * [[ingestNumericProfile]] keyed (group, bin): each micro-batch bins
    * ONLY its own values per group
    * ([[graft.ops.Stats.numericProfileByGroup]]) and merge-ADDS the
    * counts into the stored segmented profile, so a per-source scalar
    * dashboard ([[graft.ops.Stats.numericShapeDriftByGroupFromProfiles]])
    * reads stored profiles instead of re-scanning both corpora per
    * refresh — the r16 verdict's last monitoring-matrix asymmetry closed.
    * Like every profile loop, `mergeAdd` rewrites only the buckets
    * carrying the batch's own (group, bin) keys — O(batch + touched
    * buckets) for a groups·bins-sized profile. Stream-grown ≡
    * batch-built (spec-asserted); adds are not idempotent → the lineage's
    * fence record ([[fencedApply]]); Σn == values ingested is the cheap
    * audit. */
  def ingestNumericProfileByGroup(
      stream: DataFrame, valueCol: String, groupCol: String,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      bins: Int = 16, binWidthMicro: Long = 31250000L,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq(groupCol, "bin"))(b =>
      graft.ops.Stats.numericProfileByGroup(b, valueCol, groupCol, bins,
        binWidthMicro))

  /** Streaming TIMELINE maintenance — keep a persisted
    * [[graft.ops.Events.bucketCategoryProfile]] current as event batches
    * arrive: each micro-batch buckets and counts ONLY its own events
    * ((its-buckets × its-cats)-row output, one corpus-free exchange) and
    * merge-ADDS the counts into the stored profile keyed
    * (bucket_start, cat) — late events fold into their TRUE bucket (the
    * adds are order-free integers, so lateness costs nothing beyond
    * touching the bucket again), and the stream-grown profile is
    * BIT-IDENTICAL to one computed over the accumulated events in a
    * single batch (spec-asserted).
    * [[graft.ops.Events.categoryDriftTimelineFromProfiles]] then serves
    * the drift dashboard without re-touching the events. Per-batch cost:
    * O(batch + touched buckets) via `mergeAdd`, summed on the driver
    * ([[ingestAdditive]]) — a year-long stored
    * timeline costs a batch only the time buckets the batch itself spans.
    *
    * Replay contract: adds are not idempotent → the lineage's fence record
    * ([[fencedApply]]); Σn == events ingested is the cheap audit. */
  def ingestBucketCategoryProfile(
      stream: DataFrame, catCol: String, tsCol: String, bucketSec: Long,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq("bucket_start", catCol))(b =>
      graft.ops.Events.bucketCategoryProfile(b, catCol, tsCol, bucketSec))

  /** SEGMENTED streaming timeline maintenance —
    * [[ingestBucketCategoryProfile]] keyed (group, bucket_start, cat):
    * each micro-batch counts its own (group, bucket, category) triples
    * ([[graft.ops.Events.bucketCategoryProfileByGroup]]) and merge-ADDS
    * them into the stored segmented timeline profile, so the per-source
    * drift dashboard
    * ([[graft.ops.Events.categoryDriftTimelineByGroupFromProfiles]])
    * reads storage instead of re-scanning the events per refresh. Late
    * events fold into their TRUE (group, bucket); per-batch cost is
    * O(batch + touched buckets) via `mergeAdd`, summed on the driver
    * ([[ingestAdditive]]). Stream-grown ≡
    * batch-built (spec-asserted); adds are not idempotent → the lineage's
    * fence record ([[fencedApply]]); Σn == events ingested is the cheap
    * audit. */
  def ingestBucketCategoryProfileByGroup(
      stream: DataFrame, catCol: String, tsCol: String, groupCol: String,
      bucketSec: Long,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq(groupCol, "bucket_start", catCol))(b =>
      graft.ops.Events.bucketCategoryProfileByGroup(b, catCol, tsCol,
        groupCol, bucketSec))

  /** Streaming NUMERIC-TIMELINE maintenance — keep a persisted
    * [[graft.ops.Events.bucketNumericProfile]] current as event batches
    * arrive: each micro-batch buckets and bins ONLY its own values
    * ((its-buckets × bins)-row output, one corpus-free exchange) and
    * merge-ADDS the counts into the stored profile keyed
    * (bucket_start, bin) — late events fold into their TRUE bucket, and
    * the stream-grown profile is BIT-IDENTICAL to one computed over the
    * accumulated events in a single batch (spec-asserted).
    * [[graft.ops.Events.numericDriftTimelineFromProfiles]] then serves
    * the scalar drift dashboard without re-touching the events. Per-batch
    * cost: O(batch + touched buckets) via `mergeAdd`, summed on the
    * driver ([[ingestAdditive]]) — the
    * bucket-category loop's shape with bins as the categories.
    *
    * Replay contract: adds are not idempotent → the lineage's fence record
    * ([[fencedApply]]); Σn == values ingested is the cheap audit. */
  def ingestBucketNumericProfile(
      stream: DataFrame, valueCol: String, tsCol: String, bucketSec: Long,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      bins: Int = 16, binWidthMicro: Long = 31250000L,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq("bucket_start", "bin"))(b =>
      graft.ops.Events.bucketNumericProfile(b, valueCol, tsCol, bucketSec,
        bins, binWidthMicro))

  /** SEGMENTED streaming NUMERIC-TIMELINE maintenance —
    * [[ingestBucketNumericProfile]] keyed (group, bucket_start, bin):
    * each micro-batch buckets and bins ONLY its own values per group
    * ([[graft.ops.Events.bucketNumericProfileByGroup]]) and merge-ADDS
    * them into the stored segmented timeline profile, which
    * [[graft.ops.Events.numericDriftTimelineByGroupFromProfiles]] then
    * serves with zero event scans — "when did source X's value
    * distribution shift" reads storage. Late values fold into their TRUE
    * (group, bucket); per-batch cost O(batch + touched buckets) via
    * `mergeAdd`, summed on the driver ([[ingestAdditive]]). Stream-grown ≡ batch-built (spec-asserted); adds are
    * not idempotent → the lineage's fence record; Σn == values ingested is
    * the cheap audit. */
  def ingestBucketNumericProfileByGroup(
      stream: DataFrame, valueCol: String, tsCol: String, groupCol: String,
      bucketSec: Long,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      bins: Int = 16, binWidthMicro: Long = 31250000L,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq(groupCol, "bucket_start", "bin"))(b =>
      graft.ops.Events.bucketNumericProfileByGroup(b, valueCol, tsCol,
        groupCol, bucketSec, bins, binWidthMicro))

  /** SEGMENTED streaming embedding-profile maintenance —
    * [[ingestEmbeddingProfile]] keyed (group, pos, bin): each micro-batch
    * profiles its own vectors per group
    * ([[graft.ops.Similarity.embeddingProfileByGroup]]) and merge-ADDS the
    * (n, s) statistics into the stored segmented profile, which then
    * serves BOTH per-group monitors
    * ([[graft.ops.Similarity.embeddingDriftByGroupFromProfiles]] /
    * [[graft.ops.Similarity.embeddingShapeDriftByGroupFromProfiles]])
    * without re-touching the corpora. Like every profile loop,
    * `mergeAdd` rewrites only the buckets carrying the batch's own keys —
    * O(batch + touched buckets) for a groups·dim·bins-sized profile.
    * Stream-grown ≡
    * batch-built (spec-asserted); adds are not idempotent → the lineage's
    * fence record; Σn == dim · (vectors ingested) is the cheap audit. */
  def ingestEmbeddingProfileByGroup(
      stream: DataFrame, vecCol: String, groupCol: String,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      dim: Int = 64, bins: Int = 16, binWidthMicro: Long = 31250L,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq(groupCol, "pos", "bin"))(b =>
      graft.ops.Similarity.embeddingProfileByGroup(b, vecCol, groupCol,
        dim, bins, binWidthMicro))

  /** Streaming EMBEDDING-TIMELINE maintenance — keep a persisted
    * [[graft.ops.Events.bucketEmbeddingProfile]] current as embedding
    * batches arrive: each micro-batch buckets, explodes, and bins ONLY
    * its own vectors ((its-buckets × dim·bins)-row output, one
    * corpus-free exchange) and merge-ADDS the (n, s) statistics into the
    * stored profile keyed (bucket_start, pos, bin) — late vectors fold
    * into their TRUE bucket, and the stream-grown profile is
    * BIT-IDENTICAL to one computed over the accumulated vectors in a
    * single batch (spec-asserted).
    * [[graft.ops.Events.embeddingDriftTimelineFromProfiles]] then serves
    * the representation dashboard with zero corpus scans. Per-batch cost:
    * O(batch + touched buckets) via `mergeAdd`, summed on the driver
    * ([[ingestAdditive]]).
    *
    * Replay contract: adds are not idempotent → the lineage's fence record
    * ([[fencedApply]]); Σn == dim · (vectors ingested) is the cheap
    * audit. */
  def ingestBucketEmbeddingProfile(
      stream: DataFrame, vecCol: String, tsCol: String, bucketSec: Long,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      dim: Int = 64, bins: Int = 16, binWidthMicro: Long = 31250L,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq("bucket_start", "pos", "bin"))(b =>
      graft.ops.Events.bucketEmbeddingProfile(b, vecCol, tsCol, bucketSec,
        dim, bins, binWidthMicro))

  /** SEGMENTED streaming embedding-timeline maintenance —
    * [[ingestBucketEmbeddingProfile]] keyed (group, bucket_start, pos,
    * bin), so the per-source representation dashboard
    * ([[graft.ops.Events.embeddingDriftTimelineByGroupFromProfiles]])
    * reads storage instead of re-exploding the corpus per refresh. Same
    * mechanics, fence, and audit as the sibling loops. */
  def ingestBucketEmbeddingProfileByGroup(
      stream: DataFrame, vecCol: String, tsCol: String, groupCol: String,
      bucketSec: Long,
      store: graft.core.BucketedStore, feature: String,
      checkpointDir: String,
      dim: Int = 64, bins: Int = 16, binWidthMicro: Long = 31250L,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery =
    ingestAdditive(stream, checkpointDir, trigger, store, feature,
      Seq(groupCol, "bucket_start", "pos", "bin"))(b =>
      graft.ops.Events.bucketEmbeddingProfileByGroup(b, vecCol, tsCol,
        groupCol, bucketSec, dim, bins, binWidthMicro))

  /** Cheap double-apply detector for a streaming-grown BM25 index (the
    * residual [[ingestBm25Indexed]]'s at-least-once fence cannot close:
    * a crash inside the apply→fence window, or an operator replaying one
    * source through a SECOND checkpoint lineage): compares the index's
    * stats row against the corpus directory it claims to index. Returns
    * (n_docs_stats, n_docs_corpus, n_distinct_corpus, consistent) —
    * `consistent` iff stats.n_docs == distinct corpus ids == corpus rows
    * (a replayed batch shows up as corpus rows > distinct ids AND
    * stats.n_docs > distinct ids). Run on an audit cadence, not per batch
    * (it scans the corpus ids). */
  def bm25IndexConsistency(store: graft.core.BucketedStore, feature: String,
      corpusDir: String, idCol: String)
      (implicit spark: SparkSession): DataFrame = {
    val stats = store.read(s"${feature}_stats", Seq("__sk"))
      .select(col("n_docs").as("n_docs_stats"))
    spark.read.parquet(corpusDir)
      .agg(count(lit(1)).as("n_docs_corpus"),
        count_distinct(col(idCol)).as("n_distinct_corpus"))
      .crossJoin(stats)
      .select(col("n_docs_stats"), col("n_docs_corpus"), col("n_distinct_corpus"),
        (col("n_docs_stats") === col("n_distinct_corpus") &&
          col("n_docs_corpus") === col("n_distinct_corpus")).as("consistent"))
  }

  /** Streaming near-dup-gated corpus ingest — the online form of
    * [[graft.ops.Dedup.minhashNewVsCorpus]]. Each micro-batch is (1) deduped
    * against ITSELF (near-dup pairs within the batch keep the min-id rep),
    * (2) matched against the profile of everything admitted so far, and only
    * novel documents are (3) appended to `corpusDir` with (4) their shingle
    * profiles appended to `profileDir` — so later batches dedup against the
    * full admitted history without ever re-shingling it.
    *
    * Scale shape per batch: the corpus-side cost is one scan of the stored
    * PROFILE table (ids + signatures + shingle sets — no raw text), the
    * batch's banded signatures broadcast into the candidate join, and the
    * profile append is O(admitted batch). The admitted corpus itself is
    * never rewritten or re-read. At-least-once: this loop runs no batch
    * fence, so a replayed batch re-admits the same ids; pair downstream
    * readers with exact id dedup. */
  def ingestDeduped(
      stream: DataFrame,
      idCol: String, textCol: String,
      corpusDir: String, profileDir: String,
      checkpointDir: String,
      n: Int = 3, numHashes: Int = 12, bands: Int = 4,
      threshold: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery = {
    import graft.ops.Dedup
    ingestLoop(stream, checkpointDir, trigger) { (batch, _) =>
      // (1) intra-batch near-dup: keep one representative per cluster
      val selfDeduped = Dedup.dedupCorpusNear(
          batch.select(col(idCol), col(textCol)),
          idCol, textCol, n, numHashes, bands, threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // (2) match against the admitted history's stored profile
      val hasHistory =
        new Path(profileDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(new Path(profileDir))
      val admitted =
        if (!hasHistory) selfDeduped
        else {
          val prof = spark.read.parquet(profileDir)
          val matches = Dedup.minhashNewVsCorpus(selfDeduped, idCol, textCol,
            prof, idCol, "__sig", "__shingles", n, numHashes, bands, threshold)
          Dedup.admitNonDup(selfDeduped, idCol, matches)
        }
      // (3) + (4) append the novel docs and their profiles. `admitted` is
      // persisted so the match pipeline runs once, not once per write.
      val adm = admitted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      adm.write.mode("append").parquet(corpusDir)
      Dedup.shingleProfiles(adm, idCol, textCol, n, Dedup.hashCoeffs(numHashes))
        .write.mode("append").parquet(profileDir)
      // release THIS batch's frames; the ops' tracked internal persists are
      // released by ingestLoop — never catalog.clearCache(), which would
      // evict every cache in a session shared with other work.
      adm.unpersist(false)
      selfDeduped.unpersist(false)
    }
  }

  /** INDEX-BACKED [[ingestDeduped]]: the same near-dup-gated ingest loop,
    * but matching and growth run against the persistent LSH index instead
    * of a full profile scan — per batch: self-dedup, [[graft.ops.Dedup
    * .matchIndexed]] (two set-pruned bucket reads), admit novel docs to
    * `corpusDir`, [[graft.ops.Dedup.appendToIndex]] their profiles
    * (O(batch) dir-appends). EVERY step is independent of corpus size —
    * the shape that survives an unbounded stream over a 100 TB corpus.
    * The first batch bootstraps the index. `compactEvery = N` folds the
    * append dirs back (compactBuckets on bands + profile) every N batches
    * so read fan-in stays bounded on a long stream; 0 leaves maintenance
    * to the batch lane. */
  def ingestDedupedIndexed(
      stream: DataFrame,
      idCol: String, textCol: String,
      store: graft.core.BucketedStore, feature: String,
      corpusDir: String, checkpointDir: String,
      n: Int = 3, numHashes: Int = 12, bands: Int = 4,
      threshold: Double = 0.5,
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery = {
    import graft.ops.Dedup
    ingestLoop(stream, checkpointDir, trigger) { (batch, batchId) =>
      val selfDeduped = Dedup.dedupCorpusNear(
          batch.select(col(idCol), col(textCol)),
          idCol, textCol, n, numHashes, bands, threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val admitted =
        if (store.latestVersion(s"${feature}_bands").isEmpty) selfDeduped
        else {
          val matches = Dedup.matchIndexed(selfDeduped, idCol, textCol,
            store, feature, n, numHashes, bands, threshold)
          Dedup.admitNonDup(selfDeduped, idCol, matches)
        }
      // persisted: the write, the index build/append (each a write plus
      // a distinct-collect), and the profile all act on `admitted` —
      // without this the whole match pipeline re-executes per action
      val adm = admitted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      adm.write.mode("append").parquet(corpusDir)
      val prof = Dedup.shingleProfiles(adm, idCol, textCol, n,
        Dedup.hashCoeffs(numHashes))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (store.latestVersion(s"${feature}_bands").isEmpty)
        Dedup.indexCorpus(prof, idCol, "__sig", "__shingles",
          store, feature, numHashes, bands)
      else
        Dedup.appendToIndex(prof, idCol, "__sig", "__shingles",
          store, feature, numHashes, bands)
      // maintenance on a cadence: fold the append dirs back into one
      // file per bucket so read fan-in stays bounded on a long stream
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
        store.compactBuckets(s"${feature}_bands", Seq("band_key"))
        store.compactBuckets(s"${feature}_profile", Seq("corpus_id"))
      }
      prof.unpersist(false)
      adm.unpersist(false)
      selfDeduped.unpersist(false)
    }
  }

  /** Streaming SEMANTIC-dedup-gated embedding ingest — the online form of
    * [[graft.ops.Similarity.semanticDedup]] running against the PERSISTENT
    * IVF ANN index ([[graft.ops.Similarity.indexVectors]]). Per micro-batch:
    * (1) the batch is deduped against ITSELF (cosine >= threshold clusters
    * keep the min-id representative), (2) survivors probe the index for
    * their nearest admitted neighbor ([[graft.ops.Similarity.searchIndexed]]
    * — IO = the nprobe probed list buckets, independent of corpus size) and
    * are dropped if it clears the threshold, (3) novel vectors append to
    * `corpusDir` and to the index (O(batch) dir-appends). The first batch
    * bootstraps the index — without maintenance its centroid geometry stays
    * FROZEN at the bootstrap sample's `nlist`, so per-list size (and
    * per-query candidate IO) grows linearly with the stream. `relistEvery =
    * N` re-lists the index every N batches at `autoNlist(corpus-now)`
    * ([[graft.ops.Similarity.relistVectorIndex]]) — list count tracks √N as
    * the corpus grows, per-query IO stays sub-linear, and the relist's full
    * rewrite subsumes that cycle's compaction. `compactEvery = N` folds the
    * appended list dirs back every N batches (0 = leave maintenance to the
    * batch lane).
    * At-least-once: this loop runs no batch fence, so a replayed batch
    * re-admits the same ids; pair downstream readers with exact id dedup. */
  def ingestVectorsIndexed(
      stream: DataFrame,
      idCol: String, vecCol: String,
      store: graft.core.BucketedStore, feature: String,
      corpusDir: String, checkpointDir: String,
      threshold: Double = 0.9,
      nlist: Int = 16, nprobe: Int = 4, planes: Int = 4, dim: Int = 64,
      compactEvery: Int = 0,
      relistEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery = {
    import graft.ops.Similarity
    ingestLoop(stream, checkpointDir, trigger) { (batch, batchId) =>
      // (1) intra-batch semantic dedup: keep cluster representatives
      val keep = Similarity.semanticDedup(
          batch.select(col(idCol), col(vecCol)), idCol, vecCol,
          threshold, planes, dim)
        .where(col("kept")).select(col("id").as(idCol))
      val selfDeduped = batch.select(col(idCol), col(vecCol))
        .join(keep, Seq(idCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // (2) nearest admitted neighbor via the index; the batch is NOT in
      // the index yet, so any hit >= threshold is a true cross-batch dup
      val bootstrap = store.latestVersion(s"${feature}_lists").isEmpty
      val admitted =
        if (bootstrap) selfDeduped
        else {
          val dups = Similarity.searchIndexed(selfDeduped, idCol, vecCol,
              store, feature, k = 1, nprobe = nprobe, dim = dim)
            .where(col("cosine") >= threshold)
            .select(col("query_id").as(idCol)).distinct()
          selfDeduped.join(dups, Seq(idCol), "left_anti")
        }
      // persisted: the corpus write and the index build/append both act
      // on `admitted` — without this the gate pipeline runs per action
      val adm = admitted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (!adm.isEmpty) {
        adm.write.mode("append").parquet(corpusDir)
        if (bootstrap)
          Similarity.indexVectors(adm, idCol, vecCol, store, feature, nlist, dim)
        else
          Similarity.appendToVectorIndex(adm, idCol, vecCol, store, feature, dim)
        // relist beats compact when both cadences fire: its full rewrite
        // already folds the append dirs AND refreshes the list geometry
        if (relistEvery > 0 && batchId > 0 && batchId % relistEvery == 0)
          Similarity.relistVectorIndex(store, feature, dim = dim)
        else if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          store.compactBuckets(s"${feature}_lists", Seq("cent_id"))
      }
      adm.unpersist(false)
      selfDeduped.unpersist(false)
    }
  }

  /** Streaming EXACT-SUBSTRING (passage) dedup gate — the online form of
    * [[graft.ops.Dedup.paragraphDedup]] against a PERSISTENT passage-digest
    * index, completing the gate family (minhash: [[ingestDedupedIndexed]],
    * semantic: [[ingestVectorsIndexed]]). Per micro-batch: (1) the batch's
    * fixed-width token passages explode map-side and dedup against
    * THEMSELVES (first `(id, passage_idx)` occurrence per digest wins —
    * the batch restriction of the batch op's winner window); (2) survivors
    * probe the digest index with a SET-PRUNED bucket read
    * ([[graft.core.BucketedStore.readTouched]] — IO = only the buckets the
    * batch's digests hash into, independent of corpus size), stripping
    * every passage already admitted corpus-wide; (3) each document
    * reassembles from its kept passages (`clean_text = ""` when everything
    * was seen — caller decides the drop policy, as in the batch op) and
    * appends to `corpusDir`; (4) the kept passages' digests append to the
    * index (O(batch) dir-adds). Every per-batch step is O(batch) — the
    * shape that holds over an unbounded stream into a 100 TB corpus.
    * `compactEvery = N` folds the index append dirs back every N batches
    * so read fan-in stays bounded (0 = leave maintenance to the batch
    * lane).
    *
    * Equivalence (spec-asserted): when batches arrive in id order, the
    * accumulated `corpusDir` equals one [[graft.ops.Dedup.paragraphDedup]]
    * over the batches' union — the store restriction of the global winner
    * window. At-least-once: this loop runs no batch fence, so a REPLAYED
    * batch sees its own digests already admitted and re-emits its
    * documents with empty `clean_text` — pair downstream readers with
    * exact id dedup keeping the first row per id. */
  def ingestPassageDeduped(
      stream: DataFrame,
      idCol: String, textCol: String,
      store: graft.core.BucketedStore, feature: String,
      corpusDir: String, checkpointDir: String,
      tokensPerPassage: Int = 20,
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow())
      (implicit spark: SparkSession): StreamingQuery = {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.{lit, md5, row_number}
    val feat = s"${feature}_passages"
    ingestLoop(stream, checkpointDir, trigger) { (batch, batchId) =>
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("__digest").orderBy(col("id"), col("passage_idx"))
      // persisted: the pruned index read's bucket collect, the reassembly
      // write, and the digest append all act on the flagged passages
      val flagged0 = Dedup.passageExplode(
          batch.select(col(idCol), col(textCol)), idCol, textCol, tokensPerPassage)
        .withColumn("__digest", md5(col("passage")))
        .withColumn("__first", row_number().over(win) === 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bootstrap = store.latestVersion(feat).isEmpty
      val flagged = (
        if (bootstrap) flagged0.withColumn("__keep", col("__first"))
        else {
          val seen = store.readTouched(feat, Seq("digest"),
              flagged0.select(col("__digest").as("digest")))
            .select(col("digest").as("__digest")).distinct()
            .withColumn("__seen", lit(true))
          flagged0.join(seen, Seq("__digest"), "left_outer")
            .withColumn("__keep", col("__first") && col("__seen").isNull)
        }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.passageReassemble(flagged)
        .write.mode("append").parquet(corpusDir)
      val newDigests = flagged.where(col("__keep"))
        .select(col("__digest").as("digest")).distinct()
      if (bootstrap) store.write(newDigests, feat, Seq("digest"))
      else store.appendBucketed(feat, newDigests, Seq("digest"))
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        store.compactBuckets(feat, Seq("digest"))
      flagged.unpersist(false)
      flagged0.unpersist(false)
    }
  }
}
