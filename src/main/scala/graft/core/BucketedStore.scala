package graft.core

import org.apache.spark.sql.{DataFrame, GraftColumn, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal => CatLit}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.hadoop.fs.{FileStatus, Path}
import java.nio.charset.StandardCharsets
import graft.expressions.{KeySet, NotInKeySet}

/** The engine's versioned feature store: Delta-lite over plain Parquet
  * with FILE-LEVEL incremental MERGE (the reference stores features in
  * Delta Lake via delta-rs — reference: README.md:15; SURVEY §4 marks
  * data-skipping/file-level ops as the deferred CUSTOM piece). Works on any
  * Hadoop FS (local, HDFS, s3a). Single-writer-per-feature is assumed (the
  * reference's orchestrator serializes materializations too).
  *
  * Layout:
  * {{{
  *   root/<feature>/files_v<N>/__b=K/part-*   // bucket K's files written by version N
  *   root/<feature>/_graft_log/N.stats.tsv    // sidecar: per-bucket min/max
  *   root/<feature>/_graft_log/N.zorder       // sidecar: cluster cols (clustered only)
  *   root/<feature>/_graft_log/N.json         // manifest: bucket -> dirs
  * }}}
  *
  * Commit protocol: a version's data files and sidecars are written
  * first and its manifest LAST — `N.json` is the commit point, so readers
  * (which resolve the latest manifested version) never see a version
  * whose sidecars a crash left unwritten.
  *
  * Rows are routed to `numBuckets` stable hash-buckets of the entity key.
  * A MERGE reads ONLY the buckets that updates touch, rewrites those as new
  * files, and the new version's manifest references the untouched buckets'
  * EXISTING files — at 100 TB a point-update of one entity rewrites
  * 1/numBuckets of the table instead of all of it, and time travel is free
  * (old manifests still reference the old files; nothing is overwritten).
  * Bucket routing also means a key-equi join against another table bucketed
  * the same way needs no shuffle of this side.
  */
final class BucketedStore(val root: String, val numBuckets: Int = 64,
                          val deltaCheckpointEvery: Int = 10)
                         (implicit spark: SparkSession) {
  require(numBuckets > 0)
  require(deltaCheckpointEvery > 0)

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def logDir(feature: String) = new Path(s"$root/$feature/_graft_log")

  private def bucketCol(entityKeys: Seq[String]) =
    pmod(xxhash64(entityKeys.map(col): _*), lit(numBuckets)).cast("int")

  /** Lowest version whose data files [[vacuum]] guaranteed to retain; reads
    * of versions below this fail loudly (their files were reclaimed). */
  def vacuumHorizon(feature: String): Option[Long] =
    readSmall(new Path(logDir(feature), "_vacuum_horizon")).map(_.trim.toLong)

  /** Resolve the version a read targets, failing with a store-level error —
    * naming the retention horizon — when it points below [[vacuum]]'s
    * reclaim line (instead of a generic parquet file-not-found later). */
  private def resolveVersion(feature: String, asOfVersion: Option[Long]): Long = {
    val v = asOfVersion.orElse(latestVersion(feature))
      .getOrElse(throw new IllegalArgumentException(s"feature $feature has no versions"))
    vacuumHorizon(feature).foreach { h =>
      if (v < h) throw new IllegalStateException(
        s"feature $feature version $v is below the vacuum horizon $h: its data " +
          s"files were reclaimed; earliest time-travelable version is $h")
    }
    v
  }

  def versions(feature: String): Seq[Long] = {
    val dir = logDir(feature)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).sorted.toSeq
  }

  def latestVersion(feature: String): Option[Long] = versions(feature).lastOption

  // ---- atomic cursor records -----------------------------------------------
  // The store's one durable record of a small position, written and read on
  // the driver with no Spark job. Three users: the BM25 postings/termdf/stats
  // trio publishes "the versions that belong together" (readers pin a
  // consistent snapshot instead of inferring one from latest-version
  // stability), each fenced stream lineage its last applied batch id
  // ([[graft.streaming.Fastlane]]), and each change-feed consumer its
  // committed position ([[advanceCursor]]).
  // Append-only numbered slots; a slot is CLAIMED first with an
  // exclusive-create lock file (rename alone is NOT a safe claim: local-FS
  // rename silently OVERWRITES an existing destination, so two racing
  // writers would both "succeed" and one committed record would vanish),
  // then the fully-written temp file renames into the claimed slot.
  // ATOMICITY SCOPE of the claim: create(overwrite = false) is atomic on
  // HDFS and POSIX-backed filesystems; Hadoop's LocalFileSystem (and S3A)
  // implement it as exists-check-then-create, so under those two racing
  // writers CAN both claim a slot. The temp file is therefore
  // WRITER-UNIQUE ($v.tmp.$nonce) — in the worst local-FS race the slot
  // holds one writer's COMPLETE record (last rename wins whole), never an
  // interleaving of two writers sharing one temp path. The single-writer
  // cadence makes that race a crash-recovery edge, not a steady state.
  // Readers take the highest numbered slot and never see a missing or
  // half-written record.

  /** Atomically publish a small text cursor under `root/_cursor/<name>/`.
    * Bounded retry under contention (the single-writer cadence makes a
    * race a crash-recovery edge, not a steady state); fails loudly after
    * 16 contended slots rather than recursing unboundedly. */
  def writeCursor(name: String, txt: String): Unit = {
    val dir = new Path(s"$root/_cursor/$name")
    fs.mkdirs(dir)
    val base = cursorVersions(dir).lastOption.map(_ + 1).getOrElse(0L)
    var tries = 0
    while (tries < 16) {
      // skip PAST a contended slot rather than re-trying it: a writer that
      // crashed between claim and rename leaves an orphaned lock on v, and
      // re-trying v forever would wedge the cursor — readers tolerate
      // numbering gaps (they take the highest COMPLETED slot)
      val v = base + tries
      val lock = new Path(dir, s"$v.lock")
      val claimed =
        try { fs.create(lock, false).close(); true }
        catch { case _: java.io.IOException => false }
      if (claimed) {
        // writer-unique temp: if the local-FS non-atomic create let two
        // writers claim this slot, their temp writes must not collide
        val tmp = new Path(dir, s"$v.tmp.${java.util.UUID.randomUUID()}")
        writeSmall(tmp, txt)
        if (!fs.rename(tmp, new Path(dir, v.toString)))
          throw new IllegalStateException(
            s"writeCursor: rename into claimed slot $v failed under $dir")
        fs.delete(lock, false)
        return
      }
      tries += 1
    }
    throw new IllegalStateException(
      s"writeCursor: could not claim a slot under $dir after 16 attempts — " +
        "too many concurrent writers for the single-writer cursor contract")
  }

  /** Reap crash debris and superseded slots under `_cursor/`. A writer
    * that dies between its slot claim and the rename leaves `<v>.lock`
    * (and possibly its writer-unique `<v>.tmp.<nonce>`) behind forever.
    * [[writeCursor]] already SKIPS such slots (readers tolerate numbering
    * gaps), so the debris is harmless to correctness — this bounds its
    * accumulation. Only files older than `olderThanMs` go: a LIVE claim is
    * held for milliseconds, so the default one-hour horizon cannot touch
    * it. A complete slot goes once a NEWER complete slot is itself older
    * than the horizon: the newest slot always stays, and a reader that
    * listed a slot as the newest reads it well inside the hour its
    * successor must age first. Runs as part of [[vacuum]] so the standing
    * maintenance cadence reaps for free. Returns the deleted relative
    * paths. */
  def reapCursorLocks(olderThanMs: Long = 3600 * 1000L): Seq[String] = {
    val cursorRoot = new Path(s"$root/_cursor")
    if (!fs.exists(cursorRoot)) return Seq.empty
    val horizon = System.currentTimeMillis() - olderThanMs
    fs.listStatus(cursorRoot).toSeq.filter(_.isDirectory).flatMap { d =>
      val entries = fs.listStatus(d.getPath).toSeq
      val debris = entries.filter { s =>
        val nm = s.getPath.getName
        // ".tmp" (no nonce) catches debris from older writers
        (nm.endsWith(".lock") || nm.contains(".tmp.") || nm.endsWith(".tmp")) &&
          s.getModificationTime < horizon
      }
      val slots = entries.filter(_.getPath.getName.forall(_.isDigit))
        .map(s => s.getPath.getName.toLong -> s)
      val agedNewest = slots.collect { case (v, s) if s.getModificationTime < horizon => v }.maxOption
      val superseded = slots.collect { case (v, s) if agedNewest.exists(v < _) => s }
      (debris ++ superseded).flatMap { s =>
        // only report what was ACTUALLY removed — a failed delete (e.g. a
        // permission issue on a shared store) must not read as reaped
        if (fs.delete(s.getPath, false))
          Some(s"_cursor/${d.getPath.getName}/${s.getPath.getName}")
        else None
      }
    }
  }

  /** Latest published cursor value, None when never published. */
  def readCursor(name: String): Option[String] = {
    val dir = new Path(s"$root/_cursor/$name")
    cursorVersions(dir).lastOption.flatMap(v => readSmall(new Path(dir, v.toString)))
  }

  /** Cursor record name of a per-feature position: `kind` ("fence": a
    * stream lineage's last applied batch id, keyed by its checkpoint dir;
    * "cdf": a change-feed consumer's position, keyed by its name) plus the
    * SHA-256 of (feature, key), so any key becomes one short path segment.
    * The NUL separator cannot occur in a feature name (a path segment), so
    * two different (feature, key) pairs digest different inputs. */
  private[graft] def cursorName(kind: String, feature: String, key: String): String =
    s"$kind-" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$feature\u0000$key".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def cursorVersions(dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).sorted.toSeq

  /** manifest = bucket id -> relative file dirs. One dir per bucket after a
    * full write/merge; [[appendBucketed]] adds dirs (";"-joined in the JSON
    * — the separator can't occur in the `files_vN/__b=K` paths the store
    * generates) and [[compactBuckets]] folds them back to one.
    *
    * Cached per (root, feature, version) in the JVM-wide
    * [[BucketedStore.manifestCache]] — sound because a version's manifest
    * is IMMUTABLE once committed (see the invalidation contract on the
    * companion object). */
  private def readManifest(feature: String, v: Long): Map[Int, Seq[String]] =
    BucketedStore.manifestCache.getOrElseUpdate((root, feature, v), {
      val in = fs.open(new Path(logDir(feature), s"$v.json"))
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      // minimal parser for {"<bucket>": "<path>[;<path>...]", ...}
      "\"([0-9]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(json)
        .map(m => m.group(1).toInt -> m.group(2).split(';').toSeq).toMap
    })

  /** Commit version `v`: first its sidecars — the stats TSV when `stats`
    * is non-empty, the cluster columns when `clusterCols` is — then its
    * manifest, the commit point. A crash before the manifest leaves `v`
    * uncommitted, and the retry overwrites what the crash left. A sidecar
    * of `v` this commit does not write is removed: a crashed earlier
    * attempt at the same `v` can have left one, and the manifest would
    * adopt it.
    *
    * Committing v through THIS JVM refreshes every cache entry the new
    * version touches — covers the root-recreated-in-place edge (a fresh
    * store at a previously-used root restarts at v=0 and overwrites any
    * stale entries as it commits; [[seedSchema]] does the same for the
    * dirs the commit wrote). */
  private def commit(feature: String, v: Long, manifest: Map[Int, Seq[String]],
      stats: Map[Int, Map[String, (Double, Double)]], clusterCols: Seq[String] = Nil): Unit = {
    if (stats.isEmpty) fs.delete(statsFile(feature, v), false)
    else writeSmall(statsFile(feature, v), stats.toSeq.sortBy(_._1).flatMap { case (b, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) => s"$b\t$c\t$mn\t$mx" }
    }.mkString("\n"))
    if (clusterCols.isEmpty) fs.delete(layoutFile(feature, v), false)
    else writeSmall(layoutFile(feature, v), clusterCols.mkString("\t"))
    writeSmall(new Path(logDir(feature), s"$v.json"), manifest.toSeq.sortBy(_._1)
      .map { case (b, ps) => s""""$b": "${ps.mkString(";")}"""" }.mkString("{", ", ", "}"))
    BucketedStore.manifestCache.put((root, feature, v), manifest)
    BucketedStore.statsCache.put((root, feature, v), stats)
    ()
  }

  /** Record `written` (minus `__b`, nullable as a parquet read reports it)
    * as the schema of the dirs `files_v<v>/__b=<b>` a commit just wrote for
    * `buckets`, and drop the merged sets that name one of them — a root
    * recreated in place through this JVM reuses dir names. */
  private def seedSchema(feature: String, v: Long, buckets: Iterable[Int],
      written: StructType): Unit = {
    val schema = GraftColumn.asNullable(StructType(written.filterNot(_.name == "__b")))
    val fresh = buckets.map(b => s"files_v$v/__b=$b").toSet
    BucketedStore.dropSchemas(root, feature, fresh)
    fresh.foreach(r => BucketedStore.dirSchemaCache.put((root, feature, r), schema))
  }

  // ---- per-bucket column stats (file-skipping, Delta/Z-order-style) --------

  /** stats = bucket -> col -> (min, max), numeric columns only. Stored as a
    * TSV sidecar next to the manifest; buckets whose stats column is entirely
    * NULL carry no entry (a range predicate can't match NULL, so [[scanPruned]]
    * may still skip them — see there). */
  private def statsFile(feature: String, v: Long) = new Path(logDir(feature), s"$v.stats.tsv")

  private def readStats(feature: String, v: Long): Map[Int, Map[String, (Double, Double)]] =
    BucketedStore.statsCache.getOrElseUpdate((root, feature, v), {
      val p = statsFile(feature, v)
      if (!fs.exists(p)) Map.empty
      else {
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        txt.linesIterator.filter(_.nonEmpty).toSeq
          .map { line =>
            val Array(b, c, mn, mx) = line.split('\t')
            (b.toInt, c, (mn.toDouble, mx.toDouble))
          }
          .groupBy(_._1)
          .map { case (b, rows) => b -> rows.map(r => r._2 -> r._3).toMap }
      }
    })

  /** One narrow agg pass over the already-bucketed frame: per-bucket min/max
    * of each stats column, collected to the driver (≤ numBuckets rows). */
  private def computeStats(bucketed: DataFrame, statsCols: Seq[String]): Map[Int, Map[String, (Double, Double)]] = {
    if (statsCols.isEmpty) return Map.empty
    // NaN is EXCLUDED from the ranges: Spark's max orders NaN above every
    // double, so one NaN row would poison mx to NaN and `mx >= lo` would
    // prune buckets that hold matching rows. A range predicate can never
    // match NaN, so excluding it keeps pruning sound (all-NaN bucket => no
    // entry => skip, same rule as all-NULL).
    val aggs = statsCols.flatMap { c =>
      val d = col(c).cast("double")
      val clean = when(!isnan(d), d)
      Seq(min(clean).as(s"__mn_$c"), max(clean).as(s"__mx_$c"))
    }
    bucketed.groupBy("__b").agg(aggs.head, aggs.tail: _*).collect().map { row =>
      val b = row.getInt(0)
      b -> statsCols.flatMap { c =>
        val mn = row.getAs[Any](s"__mn_$c"); val mx = row.getAs[Any](s"__mx_$c")
        if (mn == null || mx == null) None
        else Some(c -> (mn.asInstanceOf[Double], mx.asInstanceOf[Double]))
      }.toMap
    }.toMap
  }

  // ---- Delta-log compatibility probe ---------------------------------------
  // Each version ALSO emits root/<feature>/_delta_log/<v padded to 20>.json
  // with protocol/metaData/add/remove actions in the open Delta commit
  // layout, so an external Delta reader can open simple tables written here.
  // Add actions carry per-file min/max stats; metaData is re-emitted on any
  // commit whose schema differs from the last emitted one (schema evolution
  // via merge is reflected, as delta-rs does); maintenance rewrites
  // (compactBuckets/optimizeZorder) commit with dataChange:false so a Delta
  // streaming reader does not reprocess compacted files as new rows.
  // Scope limits (this environment ships no delta jars to prove more):
  // no checkpoints, no deletion vectors, and vacuum() is NOT mirrored (the
  // log keeps advertising reclaimed files — the native horizon marker makes
  // the native reader fail loudly instead; see vacuum).
  // The native manifest remains the source of truth — the log is a faithful
  // mirror of it, written right after.

  private def deltaLogFile(feature: String, v: Long) =
    new Path(s"$root/$feature/_delta_log/" + f"$v%020d" + ".json")

  /** Last schemaString emitted into the Delta mirror, so a commit can detect
    * schema evolution and re-emit metaData exactly when it changes. */
  private def deltaSchemaFile(feature: String) = new Path(logDir(feature), "_delta_schema")

  private def readSmall(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }

  private def writeSmall(p: Path, txt: String): Unit = {
    val out = fs.create(p, true)
    out.write(txt.getBytes(StandardCharsets.UTF_8)); out.close()
  }

  /** (relativePath, size, modificationTime) of every part file under a
    * manifest-relative bucket directory. */
  private def listPartFiles(feature: String, rel: String): Seq[(String, Long, Long)] = {
    val dir = new Path(s"$root/$feature/$rel")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.getPath.getName.startsWith("part-"))
      .map(f => (s"$rel/${f.getPath.getName}", f.getLen, f.getModificationTime))
  }

  /** The part files of a bucket dir a manifest references, for a driver
    * read. A dir that is gone or holds none fails loudly — lost files, or a
    * vacuum that ran after the version was resolved — as Spark's scan of a
    * missing path does. */
  private def dataFiles(feature: String, rel: String): Seq[FileStatus] = {
    val files = try fs.listStatus(new Path(s"$root/$feature/$rel")).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
    catch { case _: java.io.FileNotFoundException => Seq.empty }
    if (files.isEmpty)
      throw new IllegalStateException(
        s"feature $feature: bucket dir $rel is missing or holds no part files")
    files
  }

  private def jsonEsc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** RAW per-file stats JSON for a bucket (Delta `stats` field content) —
    * shared by the commit writer (escaped into the action) and the
    * checkpoint writer (stored as a plain string column). Only finite
    * bounds are emitted: NaN/Infinity are not legal JSON tokens. */
  private def fileStatsJson(stats: Map[Int, Map[String, (Double, Double)]],
                            b: Int): Option[String] =
    stats.get(b)
      .map(_.filter { case (_, (mn, mx)) =>
        !mn.isNaN && !mn.isInfinity && !mx.isNaN && !mx.isInfinity })
      .filter(_.nonEmpty).map { cols =>
        val mins = cols.toSeq.sortBy(_._1)
          .map { case (c, (mn, _)) => s""""${jsonEsc(c)}":$mn""" }.mkString(",")
        val maxs = cols.toSeq.sortBy(_._1)
          .map { case (c, (_, mx)) => s""""${jsonEsc(c)}":$mx""" }.mkString(",")
        s"""{"minValues":{$mins},"maxValues":{$maxs}}"""
      }

  private def writeDeltaLog(feature: String, v: Long, schemaJson: String,
      addRels: Seq[String], removeRels: Seq[String],
      stats: Map[Int, Map[String, (Double, Double)]] = Map.empty,
      dataChange: Boolean = true): Unit = {
    val now = System.currentTimeMillis
    // metaData is (re-)emitted when the commit's schema differs from the
    // last emitted one — v0 always, and any schema-evolving merge/append
    // after that (delta-rs readers pick up the widened schema mid-log)
    val protocol =
      if (v == 0L) Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
      else Seq.empty
    val metaData =
      if (v == 0L || !readSmall(deltaSchemaFile(feature)).contains(schemaJson)) Seq(
        s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(s"$root/$feature".getBytes(StandardCharsets.UTF_8))}","format":{"provider":"parquet","options":{}},"schemaString":"${jsonEsc(schemaJson)}","partitionColumns":["__b"],"configuration":{},"createdTime":$now}}""")
      else Seq.empty
    val header = protocol ++ metaData
    val adds = addRels.sorted.flatMap(rel => listPartFiles(feature, rel).map {
      case (p, len, mt) =>
        val b = rel.substring(rel.lastIndexOf("__b=") + 4)
        // per-file stats in the open Delta layout (a JSON string inside the
        // action) from the bucket's tracked min/max — bucket-level ranges are
        // conservative-correct per file (a reader may scan more, never less);
        // numRecords is omitted (per-bucket, not per-file, in the sidecar)
        val statsField = fileStatsJson(stats, b.toInt)
          .map(j => s""","stats":"${jsonEsc(j)}"""").getOrElse("")
        s"""{"add":{"path":"${jsonEsc(p)}","partitionValues":{"__b":"$b"},"size":$len,"modificationTime":$mt,"dataChange":$dataChange$statsField}}"""
    })
    val removes = removeRels.sorted.flatMap(rel => listPartFiles(feature, rel).map {
      case (p, _, _) =>
        s"""{"remove":{"path":"${jsonEsc(p)}","deletionTimestamp":$now,"dataChange":$dataChange}}"""
    })
    val out = fs.create(deltaLogFile(feature, v), true)
    out.write((header ++ adds ++ removes).mkString("\n").getBytes(StandardCharsets.UTF_8))
    out.close()
    writeSmall(deltaSchemaFile(feature), schemaJson)
    // a long-lived table's log replay otherwise costs O(versions) per open:
    // every deltaCheckpointEvery commits, snapshot the aggregated state so
    // a reader pays one checkpoint + the tail commits
    if (v > 0 && v % deltaCheckpointEvery == 0)
      writeDeltaCheckpoint(feature, v, schemaJson)
  }

  // ---- Delta checkpointing -------------------------------------------------
  // Every `deltaCheckpointEvery` commits the mirror also writes the open
  // Delta checkpoint layout: `<v padded to 20>.checkpoint.parquet` holding
  // the AGGREGATED state at v (protocol + metaData + one add per live file,
  // each action a nullable struct column) plus the `_last_checkpoint`
  // pointer {"version":v,"size":n}. A reader then replays one parquet file
  // + the commits AFTER v instead of every version since 0 —
  // [[deltaLiveFiles]] is that replay, and the spec asserts the bound.
  // Tombstones (expired removes) are omitted: the mirror never vacuums
  // through the Delta view, so nothing downstream depends on them.

  private def deltaCheckpointFile(feature: String, v: Long) =
    new Path(s"$root/$feature/_delta_log/" + f"$v%020d" + ".checkpoint.parquet")

  private def lastCheckpointFile(feature: String) =
    new Path(s"$root/$feature/_delta_log/_last_checkpoint")

  private def writeDeltaCheckpoint(feature: String, v: Long, schemaJson: String): Unit = {
    val manifest = readManifest(feature, v)
    val stats = readStats(feature, v)
    val now = System.currentTimeMillis
    val proto = BucketedStore.CkptRow(
      protocol = Some(BucketedStore.CkptProtocol(1, 2)),
      metaData = None, add = None)
    val meta = BucketedStore.CkptRow(
      protocol = None,
      metaData = Some(BucketedStore.CkptMetaData(
        id = java.util.UUID.nameUUIDFromBytes(
          s"$root/$feature".getBytes(StandardCharsets.UTF_8)).toString,
        format = BucketedStore.CkptFormat("parquet", Map.empty),
        schemaString = schemaJson,
        partitionColumns = Seq("__b"),
        configuration = Map.empty,
        createdTime = now)),
      add = None)
    val adds = manifest.toSeq.sortBy(_._1).flatMap { case (b, rels) =>
      rels.flatMap(rel => listPartFiles(feature, rel)).map { case (p, len, mt) =>
        BucketedStore.CkptRow(None, None, Some(BucketedStore.CkptAdd(
          path = p, partitionValues = Map("__b" -> b.toString),
          size = len, modificationTime = mt, dataChange = true,
          stats = fileStatsJson(stats, b).orNull)))
      }
    }
    val rows = Seq(proto, meta) ++ adds
    // the Delta layout wants ONE file with the exact checkpoint name: the
    // driver writer writes a hidden temp file next to it, renamed in whole
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[BucketedStore.CkptRow]()
    val toRow = enc.createSerializer()
    val tmp = new Path(s"$root/$feature/_delta_log/.$v.checkpoint.${java.util.UUID.randomUUID()}.tmp")
    val out = driverParquet(enc.schema)._2(tmp)
    try rows.foreach(r => out.write(toRow(r))) finally out.close()
    val dest = deltaCheckpointFile(feature, v)
    if (fs.exists(dest)) fs.delete(dest, false)
    fs.rename(tmp, dest)
    writeSmall(lastCheckpointFile(feature), s"""{"version":$v,"size":${rows.length}}""")
  }

  /** Reconstruct the LIVE file set of the latest version from the Delta
    * mirror alone — the replay an external Delta reader performs: start
    * from `_last_checkpoint`'s snapshot when present, then apply only the
    * commits after it. Returns (live relative paths, commit JSONs read) —
    * the second element is the spec's handle on the O(tail) bound. */
  private[graft] def deltaLiveFiles(feature: String): (Set[String], Int) = {
    val logDirPath = new Path(s"$root/$feature/_delta_log")
    val ckptVersion = readSmall(lastCheckpointFile(feature)).flatMap { txt =>
      "\"version\"\\s*:\\s*([0-9]+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
    }
    val base: Set[String] = ckptVersion match {
      case None => Set.empty
      case Some(cv) =>
        spark.read.parquet(deltaCheckpointFile(feature, cv).toString)
          .where(col("add").isNotNull).select("add.path")
          .collect().map(_.getString(0)).toSet
    }
    val commitVs = fs.listStatus(logDirPath).map(_.getPath.getName).toSeq
      .filter(n => n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit))
      .map(_.stripSuffix(".json").toLong)
      .filter(v => ckptVersion.forall(_ < v)).sorted
    val live = commitVs.foldLeft(base) { (acc, v) =>
      val in = fs.open(deltaLogFile(feature, v))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val added = "\"add\":\\{\"path\":\"([^\"]+)\"".r
        .findAllMatchIn(txt).map(_.group(1)).toSet
      val removed = "\"remove\":\\{\"path\":\"([^\"]+)\"".r
        .findAllMatchIn(txt).map(_.group(1)).toSet
      acc -- removed ++ added
    }
    (live, commitVs.size)
  }

  /** Write `df` as a full new version: every non-empty bucket gets one file
    * directory. `statsCols` (numeric) get per-bucket min/max recorded for
    * [[scanPruned]] file skipping. Returns the version. */
  def write(df: DataFrame, feature: String, entityKeys: Seq[String],
            statsCols: Seq[String] = Nil): Long = {
    val v = latestVersion(feature).map(_ + 1).getOrElse(0L)
    val bucketed = df.withColumn("__b", bucketCol(entityKeys))
    bucketed.write.mode(SaveMode.Overwrite)
      .partitionBy("__b").parquet(s"$root/$feature/files_v$v")
    val buckets = bucketed.select("__b").distinct().collect().map(_.getInt(0))
    seedSchema(feature, v, buckets, bucketed.schema)
    val st = computeStats(bucketed, statsCols)
    commit(feature, v, buckets.map(b => b -> Seq(s"files_v$v/__b=$b")).toMap, st)
    // a full write REPLACES the table: previous version's files are removed
    // from the Delta view (they stay on disk for native time travel)
    val prevFiles =
      if (v == 0L) Seq.empty else readManifest(feature, v - 1).values.flatten.toSeq
    writeDeltaLog(feature, v, bucketed.schema.json,
      buckets.map(b => s"files_v$v/__b=$b").toSeq, prevFiles, st)
    v
  }

  // ---- Z-order clustered layout --------------------------------------------

  private def layoutFile(feature: String, v: Long) = new Path(logDir(feature), s"$v.zorder")

  /** Cluster columns of version `v` if it was written by [[writeClustered]];
    * empty for hash-bucketed versions. */
  def clusteredBy(feature: String, v: Long): Seq[String] = {
    val p = layoutFile(feature, v)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      txt.trim.split('\t').toSeq.filter(_.nonEmpty)
    }
  }

  /** Z-ORDER clustered full write (the OPTIMIZE ZORDER analogue): instead of
    * hash-routing rows to buckets, each row's file is chosen by the top bits
    * of a Morton value interleaved from EQUI-DEPTH bin ids of `clusterCols` —
    * rows close in every cluster dimension land in the same file, so each
    * file's recorded [min,max] per column is a tight band and
    * [[scanPrunedMulti]]'s conjunctive pruning skips real files. Hash
    * bucketing scatters every value range across all buckets (per-bucket
    * min/max ≈ the global range — nothing prunes); this layout is the write
    * side that makes the multi-column read side effective.
    *
    * Scale shape: one Greenwald-Khanna quantile-sketch pass computes the
    * (1<<bitsPerCol)-1 bin boundaries per column (driver receives only the
    * boundaries), then the routing column is pure codegen'd integer
    * arithmetic — no sort, no extra shuffle beyond the partitioned write
    * itself. Equi-depth bins keep file sizes balanced under skew, exactly
    * where equi-width interleaving degenerates.
    *
    * Rows with NULL in a cluster column route to bin 0 (a range predicate can
    * never match NULL, and min/max stats ignore NULLs, so pruning stays
    * correct). Clustered versions don't support hash-routed [[merge]]/
    * [[lookup]] — those fail loudly rather than mis-route; re-cluster with a
    * fresh writeClustered after bulk changes (same policy as Delta, where
    * Z-order is a table-maintenance rewrite, not an incremental property). */
  def writeClustered(df: DataFrame, feature: String, entityKeys: Seq[String],
                     clusterCols: Seq[String], statsCols: Seq[String] = Nil,
                     bitsPerCol: Int = 6): Long =
    writeClusteredInternal(df, feature, entityKeys, clusterCols, statsCols,
      bitsPerCol, dataChange = true)

  /** `dataChange=false` only for [[optimizeZorder]]: the rewrite changes no
    * logical rows, and the open Delta format marks maintenance commits so
    * streaming readers don't reprocess rewritten files as new data. */
  private def writeClusteredInternal(df: DataFrame, feature: String, entityKeys: Seq[String],
                     clusterCols: Seq[String], statsCols: Seq[String],
                     bitsPerCol: Int, dataChange: Boolean): Long = {
    require(clusterCols.nonEmpty, "writeClustered needs at least one cluster column")
    require(bitsPerCol >= 1 && bitsPerCol * clusterCols.length <= 30,
      s"bitsPerCol=$bitsPerCol x ${clusterCols.length} cols must stay under 30 z-bits")
    val nBins = 1 << bitsPerCol
    // equi-depth boundaries per column from one sketch pass; duplicate
    // quantiles (heavy skew) collapse — fewer, still-correct bins
    val probs = (1 until nBins).map(_.toDouble / nBins).toArray
    val boundaries: Seq[Array[Double]] = clusterCols.map { c =>
      df.select(col(c).cast("double").as(c)).stat
        .approxQuantile(c, probs, 0.001).distinct.sorted
    }
    // bin id = #boundaries strictly below the value: a fold of codegen'd
    // comparisons (<= 2^bitsPerCol terms), NULL-safe (NULL fails every
    // comparison -> bin 0)
    val binIds = clusterCols.zip(boundaries).map { case (c, bs) =>
      bs.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(c).cast("double") > lit(b), 1).otherwise(0) }
    }
    // Morton interleave: bit i of column j lands at z-bit i*ncols + j
    val ncols = clusterCols.length
    val z = (0 until bitsPerCol).foldLeft(lit(0)) { (acc, i) =>
      binIds.zipWithIndex.foldLeft(acc) { case (a, (bin, j)) =>
        a.bitwiseOR(shiftleft(shiftright(bin, i).bitwiseAND(lit(1)), i * ncols + j))
      }
    }
    // file id = z scaled into [0, numBuckets): with equi-depth bins z is
    // ~uniform, so files are balanced for any numBuckets (no power-of-two
    // requirement)
    val fileId = shiftright(z.cast("long") * numBuckets, bitsPerCol * ncols).cast("int")

    val v = latestVersion(feature).map(_ + 1).getOrElse(0L)
    val bucketed = df.withColumn("__b", fileId)
    bucketed.write.mode(SaveMode.Overwrite)
      .partitionBy("__b").parquet(s"$root/$feature/files_v$v")
    val buckets = bucketed.select("__b").distinct().collect().map(_.getInt(0))
    seedSchema(feature, v, buckets, bucketed.schema)
    val st = computeStats(bucketed, (clusterCols ++ statsCols).distinct)
    commit(feature, v, buckets.map(b => b -> Seq(s"files_v$v/__b=$b")).toMap, st, clusterCols)
    val prevFiles =
      if (v == 0L) Seq.empty else readManifest(feature, v - 1).values.flatten.toSeq
    writeDeltaLog(feature, v, bucketed.schema.json,
      buckets.map(b => s"files_v$v/__b=$b").toSeq, prevFiles, st, dataChange)
    v
  }

  /** All manifest-driven reads go through here: the merged schema reconciles
    * files written before/after a schema-widening merge or append (Spark
    * otherwise infers from one arbitrary footer, silently dropping the new
    * columns — and a compaction after that would make the loss permanent).
    * Empty path lists fail LOUDLY: an empty write leaves no footer to
    * recover a schema from, so there is no correct silent answer.
    *
    * The schema comes from [[schemaOf]]; the read passes it explicitly, so
    * Spark infers nothing. */
  private def readPaths(feature: String, v: Long, rels: Seq[String]): DataFrame =
    spark.read.schema(schemaOf(feature, v, rels)).parquet(rels.map(p => s"$root/$feature/$p"): _*)

  /** The schema a read of the bucket dirs `rels` reports, with no Spark job
    * when the dirs agree: the one schema of every dir, from
    * [[BucketedStore.dirSchemaCache]] (each commit seeds the dirs it
    * writes) or, for an unseeded dir, its footers read on the driver. Dirs
    * that disagree need Spark's mergeSchema, a distributed footer-read job,
    * whose result is cached under the dir set — a SUBSET read
    * (scanPruned/readTouched) of a schema-evolved version may legitimately
    * merge to a narrower schema than the full set. A dir's files are
    * immutable once written, so no key holds a version. */
  private def schemaOf(feature: String, v: Long, rels: Seq[String]): StructType = {
    if (rels.isEmpty)
      throw new IllegalStateException(
        s"feature $feature v$v references no data files (empty write?)")
    agreedSchema(feature, rels).getOrElse {
      val key = (root, feature, rels.sorted.mkString(";"))
      BucketedStore.mergedSchemaCache.getOrElseUpdate(key, spark.read
        .option("mergeSchema", "true").parquet(rels.map(p => s"$root/$feature/$p"): _*).schema)
    }
  }

  /** The one schema every dir in `rels` has, or None when two disagree (or
    * one dir's own files do). */
  private def agreedSchema(feature: String, rels: Seq[String]): Option[StructType] = {
    val each = rels.distinct.map(r => BucketedStore.dirSchemaCache.get((root, feature, r))
      .orElse(footerSchema(feature, r)))
    if (each.forall(_.isDefined) && each.flatten.distinct.size == 1) each.head else None
  }

  /** A dir's schema from its part files' footers, read on the driver (no
    * Spark job) and cached; None when the files disagree. */
  private def footerSchema(feature: String, rel: String): Option[StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val converter = new ParquetToSparkSchemaConverter(
      org.apache.spark.sql.internal.SQLConf.get)
    val schemas = dataFiles(feature, rel).map { f =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      GraftColumn.asNullable(
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta), converter))
    }.distinct
    if (schemas.size != 1) None
    else {
      BucketedStore.dirSchemaCache.put((root, feature, rel), schemas.head)
      schemas.headOption
    }
  }

  /** Read a version (default latest) by loading exactly the files its
    * manifest references. */
  def read(feature: String, entityKeys: Seq[String], asOfVersion: Option[Long] = None): DataFrame = {
    val v = resolveVersion(feature, asOfVersion)
    readPaths(feature, v, readManifest(feature, v).values.flatten.toSeq)
  }

  /** FILE-LEVEL MERGE: upsert `updates` by entity key, rewriting ONLY the
    * buckets the updates hash into; all other buckets carry into the new
    * version by manifest reference (zero IO).
    *
    * Batch-sized: the batch's rows, keys included, are collected to the
    * driver by ONE execution of `updates`. The duplicate-key check and the
    * touched-bucket set are computed there, and the same rows are the ones
    * written, so even a non-deterministic source writes exactly the rows
    * that were checked. The stored rows of the touched buckets drop the
    * batch's keys by an anti-join against the driver-held key set
    * ([[graft.expressions.NotInKeySet]]): a NULL key part never matches,
    * so NULL-key rows accumulate.
    *
    * Which path writes: when the touched dirs agree on one schema and the
    * batch has exactly its column names and types, the touched buckets
    * are rewritten on the driver by Spark's own parquet reader and writer
    * ([[writeOnDriver]]). The driver then holds the batch and one stored
    * row at a time, and the merge runs no Spark job beyond the source's
    * own and its collect. Otherwise (schema evolution, dirs that disagree)
    * the rewrite is a Spark write: a scan of the touched files through
    * the key-set filter, unioned with the batch. */
  def merge(feature: String, updates: DataFrame, entityKeys: Seq[String]): Long = {
    val prev = latestVersion(feature)
      .getOrElse(throw new IllegalArgumentException(s"merge into empty feature $feature; write() first"))
    val manifest = hashManifest(feature, prev, "merge")

    val upd = updates.withColumn("__b", bucketCol(entityKeys))
    requireStoredKeyTypes("merge", feature, prev, manifest, upd.schema, entityKeys)
    val rows = GraftColumn.collectInternal(upd)
    val keys = KeySet.of(upd.schema, entityKeys, rows)
    // one-row-per-key upsert contract: a batch with duplicate keys would
    // anti-join away the stored row and append BOTH copies — the silent
    // version of Delta's "multiple source rows matched" error
    require(keys.size == rows.size,
      s"merge batch contains duplicate entity keys for $feature; dedupe the batch first")
    val bIdx = upd.schema.fieldIndex("__b")
    val touched = rows.map(_.getInt(bIdx)).toSet
    driverTarget(feature, manifest, touched, upd.schema) match {
      case Some((schema, files)) =>
        val readStored = matchingReader(schema,
          NotInKeySet(entityKeys.map(k => boundTo(schema, k)), keys), Nil)
        val batchOf = byBucket(schema, upd.schema, rows)
        commitTouched(feature, prev, manifest, touched)(
          writeOnDriver(schema, upd.schema("__b"), touched) { (b, put) =>
            readStored(files(b), put)
            batchOf.getOrElse(b, Nil).foreach(put)
          })
      case None =>
        val batch = GraftColumn.localFrame(spark, upd.schema, rows)
        // current rows of ONLY the touched buckets
        val touchedRels = manifest.filter(t => touched(t._1)).values.flatten.toSeq
        val merged =
          if (touchedRels.isEmpty) batch
          else readPaths(feature, prev, touchedRels)
            .where(GraftColumn.of(NotInKeySet(entityKeys.map(k => GraftColumn.expr(col(k))), keys)))
            .withColumn("__b", bucketCol(entityKeys))
            .unionByName(batch, allowMissingColumns = true)
        commitTouched(feature, prev, manifest, touched)(rewriteWithSpark(merged))
    }
  }

  /** Refuses a batch (`batch`, the schema of its rows) whose key types
    * differ from the stored ones: xxhash64 hashes by type, so such a key
    * routes to another bucket than its stored row and would never meet
    * it. The stored types come from one dir's schema. */
  private def requireStoredKeyTypes(op: String, feature: String, prev: Long,
      manifest: Map[Int, Seq[String]], batch: StructType, entityKeys: Seq[String]): Unit =
    manifest.values.headOption.foreach { rels =>
      val stored = schemaOf(feature, prev, rels.take(1))
      entityKeys.foreach(k => require(
        DataTypeUtils.sameType(stored(k).dataType, batch(k).dataType),
        s"$op into $feature: key $k is ${batch(k).dataType.simpleString} in the " +
          s"batch but ${stored(k).dataType.simpleString} in the store"))
    }

  /** What [[merge]] and [[mergeAdd]] need to rewrite the `touched`
    * buckets on the driver, or None when the rewrite is a Spark write: the
    * stored schema and each touched bucket's part files. It is None when
    * the touched dirs disagree on a schema (a batch into new buckets only
    * takes the schema of the dir its key-type check read), or when the
    * batch (`batch`, with `__b`) lacks exactly that schema's column names
    * and types (schema evolution). */
  private def driverTarget(feature: String, manifest: Map[Int, Seq[String]], touched: Set[Int],
      batch: StructType): Option[(StructType, Map[Int, Seq[FileStatus]])] = {
    val rels = touched.toSeq.flatMap(manifest.getOrElse(_, Nil))
    val ref = if (rels.nonEmpty) rels else manifest.values.headOption.toSeq.flatMap(_.take(1))
    val cols = batch.filterNot(_.name == "__b").map(f => f.name -> f.dataType)
    val byName = cols.toMap
    agreedSchema(feature, ref)
      .filter(s => s.size == cols.size && byName.size == cols.size &&
        s.forall(f => byName.get(f.name).exists(DataTypeUtils.sameType(_, f.dataType))))
      .map(_ -> touched.map(b => b -> manifest.getOrElse(b, Nil).flatMap(dataFiles(feature, _))).toMap)
  }

  private def boundTo(schema: StructType, c: String): BoundReference =
    BoundReference(schema.fieldIndex(c), schema(c).dataType, nullable = true)

  /** The batch's `rows` (of `batch`, with `__b`) by bucket, each reordered
    * by name into `schema`. */
  private def byBucket(schema: StructType, batch: StructType,
      rows: Seq[InternalRow]): Map[Int, Seq[InternalRow]] = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val bIdx = batch.fieldIndex("__b")
    val order = schema.map(f => batch.fieldIndex(f.name) -> f.dataType)
    rows.groupBy(_.getInt(bIdx)).map { case (b, rs) =>
      b -> rs.map(r => new GenericInternalRow(order.map { case (i, t) => r.get(i, t) }.toArray))
    }
  }

  /** The driver writer of [[merge]] and [[mergeAdd]]: one part file per
    * bucket of `buckets` under `dir/__b=<b>`, holding the rows of `schema`
    * that `fill(b, put)` puts, written by Spark's own parquet writer
    * ([[driverParquet]]) as they come. The `tracked` stats come from the
    * same rows, NaN excluded as in [[computeStats]]. Returns the written
    * schema (`schema` and the `bucket` field) and the stats. */
  private def writeOnDriver(schema: StructType, bucket: StructField, buckets: Set[Int])(
      fill: (Int, InternalRow => Unit) => Unit)(
      dir: Path, tracked: Seq[String]): (StructType, Map[Int, Map[String, (Double, Double)]]) = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.DoubleType
    // as SaveMode.Overwrite: debris of a crashed attempt never enters the version
    fs.delete(dir, true)
    val (ext, open) = driverParquet(schema)
    val statCols = tracked.filter(schema.fieldNames.contains)
    val asDouble = statCols.map(c =>
      Cast(boundTo(schema, c), DoubleType, Option(spark.conf.get("spark.sql.session.timeZone"))))
    val stats = buckets.toSeq.sorted.map { b =>
      val lo = Array.fill(statCols.size)(Double.PositiveInfinity)
      val hi = Array.fill(statCols.size)(Double.NegativeInfinity)
      val out = open(new Path(dir, s"__b=$b/part-00000-${java.util.UUID.randomUUID()}.c000$ext"))
      def put(r: InternalRow): Unit = {
        out.write(r)
        asDouble.indices.foreach { i =>
          asDouble(i).eval(r) match {
            case d: Double if !d.isNaN => lo(i) = math.min(lo(i), d); hi(i) = math.max(hi(i), d)
            case _ =>
          }
        }
      }
      try fill(b, put) finally out.close()
      b -> statCols.indices.filter(i => lo(i) <= hi(i)).map(i => statCols(i) -> (lo(i), hi(i))).toMap
    }
    (StructType(schema.fields :+ bucket), stats.toMap)
  }

  /** The Spark rewrite of [[merge]] and [[mergeAdd]]: `rewritten` (with
    * `__b`) written partitioned by bucket into `dir`, and the `tracked`
    * stats by one narrow agg over it. */
  private def rewriteWithSpark(rewritten: DataFrame)(dir: Path, tracked: Seq[String])
      : (StructType, Map[Int, Map[String, (Double, Double)]]) = {
    rewritten.write.mode(SaveMode.Overwrite).partitionBy("__b").parquet(dir.toString)
    (rewritten.schema, computeStats(rewritten, tracked.filter(rewritten.columns.contains)))
  }

  /** FILE-LEVEL MERGE-ADD for additive profiles: every non-key column of
    * `batch` is an exact additive sum, and the new version holds
    * stored + batch per entity key. Reads ONLY the buckets the batch hashes
    * into and rewrites them as
    * `union(stored touched rows, batch).groupBy(keys).agg(sum(coalesce(c, 0)))`
    * — keys present on either side appear once, rows of other keys in a
    * touched bucket pass through with +0, duplicate keys inside the batch
    * or among a touched bucket's stored rows are summed too. Untouched
    * buckets carry by manifest reference. One version per call; the first
    * call on a fresh feature writes the summed batch. A batch key of
    * another type than the stored key is refused, as in [[merge]].
    *
    * NULL keys add as ONE group (SQL `GROUP BY` semantics, the same rule
    * as the profile-served drift reads), unlike [[merge]], whose equi-join
    * never matches a NULL key and so accumulates NULL-key rows.
    *
    * Batch-sized: the batch's rows, with their bucket ids, are collected
    * to the driver by ONE execution of `batch`. Which path writes: when
    * the touched dirs agree on one schema and the batch has exactly its
    * column names and types, each touched bucket is summed on the driver
    * ([[driverSums]]: its stored rows streamed through the driver parquet
    * reader, then the batch's rows of that bucket) and written as one part
    * file by [[writeOnDriver]]; the driver holds the batch and one
    * bucket's distinct keys at a time, and no Spark job runs beyond the
    * source's own. Otherwise (schema evolution, dirs that disagree) the
    * sum is a Spark `groupBy` over the touched files and the collected
    * rows, written by a Spark write. */
  def mergeAdd(feature: String, batch: DataFrame, entityKeys: Seq[String]): Long = {
    def summed(rows: DataFrame): DataFrame = {
      val sums = sumColumns(feature, rows.schema, entityKeys)
      rows.groupBy(entityKeys.map(col): _*)
        .agg(sums.head, sums.tail: _*)
        .select(rows.columns.map(col): _*)
    }
    val sums = sumColumns(feature, batch.schema, entityKeys)
    latestVersion(feature) match {
      case None => write(summed(batch), feature, entityKeys)
      case Some(prev) =>
        val manifest = hashManifest(feature, prev, "mergeAdd")
        val bb = batch.withColumn("__b", bucketCol(entityKeys))
        requireStoredKeyTypes("mergeAdd", feature, prev, manifest, bb.schema, entityKeys)
        val rows = GraftColumn.collectInternal(bb)
        val bIdx = bb.schema.fieldIndex("__b")
        val touched = rows.map(_.getInt(bIdx)).toSet
        driverTarget(feature, manifest, touched, bb.schema) match {
          case Some((schema, files)) =>
            val readStored = matchingReader(schema, CatLit.TrueLiteral, Nil)
            val batchOf = byBucket(schema, bb.schema, rows)
            val sumInto = driverSums(schema, entityKeys, sums)
            commitTouched(feature, prev, manifest, touched)(
              writeOnDriver(schema, bb.schema("__b"), touched) { (b, put) =>
                sumInto({ add =>
                  readStored(files(b), add)
                  batchOf.getOrElse(b, Nil).foreach(add)
                }, put)
              })
          case None =>
            val local = GraftColumn.localFrame(spark, bb.schema, rows).drop("__b")
            val touchedRels = manifest.filter(t => touched(t._1)).values.flatten.toSeq
            val all =
              if (touchedRels.isEmpty) local
              else readPaths(feature, prev, touchedRels).unionByName(local, allowMissingColumns = true)
            commitTouched(feature, prev, manifest, touched)(
              rewriteWithSpark(summed(all).withColumn("__b", bucketCol(entityKeys))))
        }
    }
  }

  /** [[mergeAdd]]'s sum columns over rows of `schema`: per non-key column
    * `c`, `sum(coalesce(c, 0)).cast(type of c).as(c)`, in schema order. */
  private def sumColumns(feature: String, schema: StructType, entityKeys: Seq[String])
      : Seq[org.apache.spark.sql.Column] = {
    val adds = schema.fields.filterNot(f => entityKeys.contains(f.name))
    require(adds.nonEmpty &&
      adds.forall(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]),
      s"mergeAdd into $feature: needs numeric non-key sum columns, got " +
        adds.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    adds.map(f => sum(coalesce(col(f.name), lit(0))).cast(f.dataType).as(f.name)).toSeq
  }

  /** [[mergeAdd]]'s per-key sums on the driver, over rows of `schema`.
    * `sums` ([[sumColumns]]) are analysed as Spark analyses them for the
    * Spark path's `groupBy` (over an empty `LocalRelation`, no job), and
    * each sum is then updated and evaluated by its Catalyst aggregate's
    * own buffer, update and result expressions: the same types, ANSI
    * overflow errors and decimal rules. Rows group by [[KeySet]]'s key
    * tuples (NULL parts equal, NaN = NaN, 0.0 = -0.0), as Spark's hash
    * aggregate groups them, and a group's key is written normalized, as
    * Spark writes a grouped key. The returned function is called per
    * bucket with that bucket's rows (`rows` hands each to its callback)
    * and `put`: it holds one row per distinct key, then puts each, as a
    * row of `schema`, in first-seen order. */
  private def driverSums(schema: StructType, entityKeys: Seq[String],
      sums: Seq[org.apache.spark.sql.Column])
      : ((InternalRow => Unit) => Unit, InternalRow => Unit) => Unit = {
    import org.apache.spark.sql.catalyst.expressions.{
      Attribute, AttributeSeq, BindReferences, GenericInternalRow, InterpretedMutableProjection,
      JoinedRow, SpecificInternalRow, UnsafeRow}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val agg = GraftColumn.localFrame(spark, schema, Nil).agg(sums.head, sums.tail: _*)
      .queryExecution.analyzed.collectFirst { case a: Aggregate => a }.get
    val calls = agg.aggregateExpressions.flatMap(_.collect { case a: AggregateExpression => a })
    val fns = calls.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val buffer = fns.flatMap(_.aggBufferAttributes)
    def bound(es: Seq[Expression], input: Seq[Attribute]) =
      BindReferences.bindReferences(es, AttributeSeq(input))
    val init = InterpretedMutableProjection.createProjection(bound(fns.flatMap(_.initialValues), Nil))
    val update = InterpretedMutableProjection.createProjection(
      bound(fns.flatMap(_.updateExpressions), buffer ++ agg.child.output))
    val result = agg.aggregateExpressions.map(_.name).zip(bound(agg.aggregateExpressions.map(
      _.transform { case a: AggregateExpression => fns(calls.indexOf(a)).evaluateExpression }),
      buffer)).toMap
    val key = KeySet.tuple(schema, entityKeys)
    val column: Seq[(UnsafeRow, InternalRow) => Any] = schema.fields.toSeq.map { f =>
      val k = entityKeys.indexOf(f.name)
      if (k >= 0) (t: UnsafeRow, _: InternalRow) => t.get(k, f.dataType)
      else { val r = result(f.name); (_: UnsafeRow, buf: InternalRow) => r.eval(buf) }
    }
    (rows, put) => {
      val groups = new java.util.LinkedHashMap[UnsafeRow, InternalRow]()
      rows { r =>
        val t = key(r)
        var buf = groups.get(t)
        if (buf == null) {
          buf = new SpecificInternalRow(buffer.map(_.dataType))
          init.target(buf)(InternalRow.empty)
          groups.put(t.copy(), buf)
        }
        update.target(buf)(new JoinedRow(buf, r))
      }
      groups.forEach((t, buf) =>
        put(new GenericInternalRow(column.map(_(t, buf)).toArray)))
    }
  }

  /** Manifest of `prev`, refusing a Z-order clustered version: its manifest
    * keys are z-ranges, not hash buckets, and hash-routing rows into it
    * would silently corrupt. */
  private def hashManifest(feature: String, prev: Long, op: String): Map[Int, Seq[String]] = {
    require(clusteredBy(feature, prev).isEmpty,
      s"feature $feature v$prev is Z-order clustered; $op needs a hash-bucketed version (re-write, then $op)")
    readManifest(feature, prev)
  }

  /** Commit tail of [[merge]] and [[mergeAdd]]. `rewrite` writes the
    * COMPLETE new content of the `touched` buckets under the `files_v<v>`
    * dir it is given and returns the written schema (with `__b`) and the
    * per-bucket min/max of the stats columns it is given, the ones the
    * previous version tracked. The content becomes version prev+1, whose
    * manifest references the untouched buckets' existing files. `touched`
    * is the driver-held bucket set the caller took from the batch's rows;
    * every touched bucket holds at least one batch row, so the rewritten
    * bucket set IS `touched` — no collect needed. Which `rewrite` runs is
    * the caller's choice: [[writeOnDriver]], one part file per touched
    * bucket, which holds the batch and, for [[merge]], one stored row or,
    * for [[mergeAdd]], one bucket's distinct keys at a time; or
    * [[rewriteWithSpark]], which holds nothing on the driver but the
    * stats' ≤ numBuckets rows and writes one part file per (input
    * partition, bucket). */
  private def commitTouched(feature: String, prev: Long, manifest: Map[Int, Seq[String]],
      touched: Set[Int])(rewrite: (Path, Seq[String]) =>
        (StructType, Map[Int, Map[String, (Double, Double)]])): Long = {
    val v = prev + 1
    // stats: untouched buckets carry forward by reference (their files didn't
    // change); rewritten buckets recompute over the same columns the previous
    // version tracked, over only the rewritten slice
    val prevStats = readStats(feature, prev)
    val trackedCols = prevStats.values.flatMap(_.keys).toSeq.distinct
    val (schema, recomputed) = rewrite(new Path(s"$root/$feature/files_v$v"), trackedCols)
    val newRels = touched.toSeq.sorted.map(b => b -> s"files_v$v/__b=$b")
    seedSchema(feature, v, touched, schema)
    val stats =
      if (trackedCols.isEmpty) Map.empty[Int, Map[String, (Double, Double)]]
      else (prevStats -- touched) ++ recomputed
    commit(feature, v, (manifest -- touched) ++ newRels.map { case (b, r) => b -> Seq(r) }, stats)
    // Delta view: rewritten buckets' new files are added, the replaced files
    // removed; untouched buckets carry implicitly
    writeDeltaLog(feature, v, schema.json, newRels.map(_._2),
      manifest.filter(t => touched(t._1)).values.flatten.toSeq, stats)
    v
  }

  /** O(batch) APPEND: route `rows` to their buckets and ADD the new file
    * dirs to the touched buckets' manifest entries — no existing file is
    * read or rewritten (vs [[merge]]'s rewrite of every touched bucket).
    * The growth path for monotonically-appending tables (event logs, the
    * LSH dedup index): write cost is O(batch) regardless of table size.
    * NOT an upsert — duplicate keys accumulate; dedupe downstream or with
    * [[merge]]. Tracked stats WIDEN with the appended slice (union of
    * ranges — conservative-correct for pruning). Run [[compactBuckets]] on
    * a cadence to fold multi-dir buckets back to one. */
  def appendBucketed(feature: String, rows: DataFrame, entityKeys: Seq[String]): Long = {
    val prev = latestVersion(feature)
      .getOrElse(throw new IllegalArgumentException(s"append into empty feature $feature; write() first"))
    val manifest = hashManifest(feature, prev, "append")
    val v = prev + 1
    val bucketed = rows.withColumn("__b", bucketCol(entityKeys))
    bucketed.write.mode(SaveMode.Overwrite)
      .partitionBy("__b").parquet(s"$root/$feature/files_v$v")
    val newBuckets = bucketed.select("__b").distinct().collect().map(_.getInt(0))
    seedSchema(feature, v, newBuckets, bucketed.schema)
    val prevStats = readStats(feature, prev)
    val tracked = prevStats.values.flatMap(_.keys).toSeq.distinct
    val stats =
      if (tracked.isEmpty) Map.empty[Int, Map[String, (Double, Double)]]
      else {
        val add = computeStats(bucketed, tracked.filter(rows.columns.contains))
        val widened = (prevStats.keySet ++ add.keySet).map { b =>
          val pm = prevStats.getOrElse(b, Map.empty[String, (Double, Double)])
          val am = add.getOrElse(b, Map.empty[String, (Double, Double)])
          b -> (pm.keySet ++ am.keySet).map { c =>
            c -> ((pm.get(c), am.get(c)) match {
              case (Some((l1, h1)), Some((l2, h2))) => (math.min(l1, l2), math.max(h1, h2))
              case (Some(x), None) => x
              case (None, x) => x.get
            })
          }.toMap
        }.toMap
        widened
      }
    commit(feature, v, manifest ++ newBuckets.map(b =>
      b -> (manifest.getOrElse(b, Seq.empty) :+ s"files_v$v/__b=$b")).toMap, stats)
    // append = pure adds in the Delta view; nothing is removed
    writeDeltaLog(feature, v, bucketed.schema.json,
      newBuckets.map(b => s"files_v$v/__b=$b").toSeq, Seq.empty, stats)
    v
  }

  /** Fold every multi-dir bucket (accumulated by [[appendBucketed]]) back
    * to one file dir — the OPTIMIZE/compaction half of the append cycle.
    * Reads ONLY the multi-dir buckets; single-dir buckets carry by
    * reference. No-op (returns the current version) when nothing needs
    * compacting. Old dirs stay on disk for time travel until [[vacuum]]. */
  def compactBuckets(feature: String, entityKeys: Seq[String]): Long = {
    val prev = latestVersion(feature)
      .getOrElse(throw new IllegalArgumentException(s"feature $feature has no versions"))
    val manifest = hashManifest(feature, prev, "compact")
    val multi = manifest.filter(_._2.size > 1)
    if (multi.isEmpty) return prev
    val v = prev + 1
    // reading bucket dirs directly drops the __b partition column, so the
    // routing column is re-derived with the identical hash
    val rows = readPaths(feature, prev, multi.values.flatten.toSeq)
    val bucketed = rows.withColumn("__b", bucketCol(entityKeys))
    bucketed.write.mode(SaveMode.Overwrite)
      .partitionBy("__b").parquet(s"$root/$feature/files_v$v")
    val rewritten = bucketed.select("__b").distinct().collect().map(_.getInt(0))
    seedSchema(feature, v, rewritten, bucketed.schema)
    // ranges are unchanged by compaction: carry the stats sidecar forward
    val prevStats = readStats(feature, prev)
    commit(feature, v, manifest ++ rewritten.map(b =>
      b -> Seq(s"files_v$v/__b=$b")).toMap, prevStats)
    // compaction changes no logical rows — dataChange:false keeps Delta
    // streaming readers from reprocessing the folded files as new data
    writeDeltaLog(feature, v, bucketed.schema.json,
      rewritten.map(b => s"files_v$v/__b=$b").toSeq,
      multi.values.flatten.toSeq, prevStats, dataChange = false)
    v
  }

  /** Stats-pruned range scan: read ONLY the bucket files whose recorded
    * [min,max] for `statsCol` intersects [lo,hi] (inclusive), then apply the
    * filter. Buckets with NO stats entry for the column fall into two cases:
    * the version tracked the column (entry absent ⇒ the bucket's values are
    * all NULL ⇒ a range predicate can never match ⇒ skip), or the version
    * tracked nothing (no sidecar ⇒ cannot skip ⇒ read). At 100 TB this is
    * the manifest-level analogue of parquet row-group skipping: the planner
    * touches `numBuckets` stat rows instead of listing every file. */
  def scanPruned(feature: String, entityKeys: Seq[String], statsCol: String,
                 lo: Double, hi: Double, asOfVersion: Option[Long] = None): DataFrame =
    scanPrunedMulti(feature, entityKeys, Seq((statsCol, lo, hi)), asOfVersion)

  /** CONJUNCTIVE multi-column stats pruning: a bucket is read only if its
    * recorded [min,max] intersects EVERY requested range — the keep-sets of
    * the individual predicates intersect, so adding a predicate can only
    * shrink the file list (Z-order-style data skipping without the curve:
    * the sidecar already stores per-column min/max per bucket). Per column,
    * untracked ⇒ conservative keep; tracked but entry absent ⇒ the bucket's
    * values are all NULL ⇒ the range can't match ⇒ skip. */
  def scanPrunedMulti(feature: String, entityKeys: Seq[String],
      ranges: Seq[(String, Double, Double)],
      asOfVersion: Option[Long] = None): DataFrame = {
    require(ranges.nonEmpty, "scanPrunedMulti needs at least one (col, lo, hi) range")
    val v = resolveVersion(feature, asOfVersion)
    val stats = readStats(feature, v)
    val manifest = readManifest(feature, v)
    // a column NO bucket has an entry for is indistinguishable from untracked
    // (an all-NULL bucket writes no entry) — reading everything is the
    // conservative-correct answer for both
    val tracked = ranges.map { case (c, _, _) =>
      c -> stats.values.exists(_.contains(c)) }.toMap
    val keep = manifest.filter { case (b, _) =>
      ranges.forall { case (c, lo, hi) =>
        if (!tracked(c)) true
        else stats.get(b).flatMap(_.get(c)) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None           => false // tracked column, all-NULL bucket: skip
        }
      }
    }
    val pred = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)
    if (keep.isEmpty) read(feature, entityKeys, Some(v)).where(pred).limit(0)
    else readPaths(feature, v, keep.values.flatten.toSeq).where(pred)
  }

  /** SET-pruned read: load only the buckets that the key values present in
    * `keys` hash into — the batch form of [[lookup]] (one Spark job computes
    * the distinct bucket ids — ≤ numBuckets ints to the driver — then one
    * scan of just those files). At 100 TB this is how an incremental
    * pipeline touches an indexed table: per-batch IO is
    * |touched buckets| / numBuckets of the table, independent of table
    * size for a fixed batch. `keys` must have the entity-key columns with
    * the STORED column types (same frame family the index was built from). */
  def readTouched(feature: String, entityKeys: Seq[String], keys: DataFrame,
                  asOfVersion: Option[Long] = None): DataFrame = {
    val v = resolveVersion(feature, asOfVersion)
    require(clusteredBy(feature, v).isEmpty,
      s"feature $feature v$v is Z-order clustered; readTouched needs hash routing")
    val manifest = readManifest(feature, v)
    val touched = keys.select(bucketCol(entityKeys).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val rels = manifest.filter(t => touched(t._1)).values.flatten.toSeq
    if (rels.isEmpty) read(feature, entityKeys, Some(v)).limit(0)
    else readPaths(feature, v, rels)
  }

  /** Point lookup: hash the literal key to its bucket and read ONLY that
    * bucket's files — a serving-side get that touches 1/numBuckets of the
    * table regardless of table size.
    *
    * When the bucket's dirs agree on one schema, its files are read on the
    * driver with Spark's own parquet reader (the key pushed down for
    * row-group skipping) and the matching rows come back as a
    * `LocalRelation`-backed DataFrame: neither the lookup nor its `collect`
    * runs a Spark job. A bucket whose dirs disagree (a schema-evolved
    * multi-dir bucket needs Spark's mergeSchema) is a Spark scan instead.
    * Either way the result has the bucket's schema and the rows of
    * `read(...)` where every key column `=` its literal cast to the stored
    * type — SQL `=`, so a NULL key matches nothing. A bucket dir that is
    * missing or empty fails loudly. */
  def lookup(feature: String, entityKeys: Seq[String], keyValues: Seq[Any],
             asOfVersion: Option[Long] = None): DataFrame = {
    require(entityKeys.length == keyValues.length)
    val v = resolveVersion(feature, asOfVersion)
    require(clusteredBy(feature, v).isEmpty,
      s"feature $feature v$v is Z-order clustered; point lookup needs a hash-bucketed version")
    val manifest = readManifest(feature, v)
    if (manifest.isEmpty) return read(feature, entityKeys, Some(v)).limit(0)
    // same hash the writer used, evaluated IN-PROCESS: lookup is the serving
    // path (A14 fastlane), and a one-row Spark job spends ~50-100 ms of
    // scheduler latency computing a hash the driver evaluates in microseconds.
    // xxhash64 hashes by TYPE, so each literal is cast to the STORED key
    // column's type first (an Int passed for a Long column would otherwise
    // hash differently and silently miss) — types come from one dir's schema
    val routing = schemaOf(feature, v, Seq(manifest.values.head.head))
    val b = bucketOf(keyValues, entityKeys.map(k => routing(k).dataType))
    manifest.get(b) match {
      case None => read(feature, entityKeys, Some(v)).limit(0)
      case Some(rels) =>
        val files = rels.flatMap(dataFiles(feature, _))
        agreedSchema(feature, rels) match {
          case Some(schema) =>
            val (keep, pushed) = keyEquals(schema, entityKeys, keyValues)
            val rows = Vector.newBuilder[InternalRow]
            matchingReader(schema, keep, pushed)(files, rows += _.copy())
            GraftColumn.localFrame(spark, schema, rows.result())
          case None =>
            val df = readPaths(feature, v, rels)
            entityKeys.zip(keyValues).foldLeft(df) { case (d, (k, kv)) =>
              d.filter(col(k) === lit(kv).cast(d.schema(k).dataType)) }
        }
    }
  }

  /** The keep predicate of a lookup over rows of `schema` — the
    * interpreted `key = CAST(literal AS stored type)`, so a NULL key
    * matches nothing — and the same equalities as parquet filters. */
  private def keyEquals(schema: StructType, entityKeys: Seq[String],
      keyValues: Seq[Any]): (Expression, Seq[Filter]) = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    val lits = keyLiterals(keyValues, entityKeys.map(k => schema(k).dataType))
    val keep = entityKeys.zip(lits).map { case (k, l) =>
      EqualTo(BoundReference(schema.fieldIndex(k), l.dataType, nullable = true), l): Expression
    }.reduce(And(_, _))
    // parquet's `eq` on NULL means IS NULL, so a NULL literal is not pushed
    val pushed = entityKeys.zip(lits).collect { case (k, l) if l.value != null =>
      org.apache.spark.sql.sources.EqualTo(k, CatalystTypeConverters.convertToScala(l.value, l.dataType))
    }
    (keep, pushed)
  }

  /** A driver reader of parquet files of `schema`, built once (one reader
    * function, one predicate) and used for any number of file sets. It
    * hands `f` each row of `files` that `keep` (bound to `schema`) holds
    * for, read by Spark's parquet reader one row at a time. `f` sees the
    * reader's reused buffer, so it copies what it holds on to. `pushed`
    * only lets the reader skip row groups; `keep` decides. The vectorized
    * reader is closed here, also when a read or `f` fails; the row-based
    * one (only for types the vectorized reader lacks) closes at its end. */
  private def matchingReader(schema: StructType, keep: Expression, pushed: Seq[Filter])
      : (Seq[FileStatus], InternalRow => Unit) => Unit = {
    import org.apache.spark.paths.SparkPath
    import org.apache.spark.sql.catalyst.expressions.Predicate
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    val holds = Predicate.createInterpreted(keep)
    val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      new StructType(), schema, pushed, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      GraftColumn.hadoopConf(spark))
    (files, f) => files.foreach { file =>
      val rows = readFile(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(file),
        0L, file.getLen, Array.empty[String], file.getModificationTime, file.getLen))
      try rows.foreach(r => if (holds.eval(r)) f(r))
      finally rows match {
        case c: AutoCloseable => c.close()
        case _ =>
      }
    }
  }

  /** Spark's own parquet writer, opened on the driver: `prepareWrite`
    * configures the job as a Spark write of `schema` does, so a file gets
    * the same codec, extension and footer metadata. Returns that extension
    * (".snappy.parquet" by default) and an opener of one file at a path. */
  private def driverParquet(schema: StructType): (String, Path => OutputWriter) = {
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val job = Job.getInstance(GraftColumn.hadoopConf(spark))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    (factory.getFileExtension(ctx), p => factory.newInstance(p.toString, schema, ctx))
  }

  /** Each literal as a Catalyst literal of the stored key column's type. */
  private def keyLiterals(keyValues: Seq[Any], keyTypes: Seq[DataType]): Seq[CatLit] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    require(keyValues.length == keyTypes.length)
    keyValues.zip(keyTypes).map { case (kv, t) =>
      val l = CatLit(kv)
      if (l.dataType == t) l else CatLit(Cast(l, t).eval(null), t)
    }
  }

  /** Driver-side twin of [[bucketCol]]: evaluate pmod(xxhash64(keys), n) on
    * literal values with the catalyst expressions themselves — no Spark job.
    * Each literal is cast to the stored key column's Catalyst type so the
    * bucket is bit-identical to the executor-side bucketCol routing even
    * when the caller's Scala type differs (Int for a LongType key, ...).
    * Exposed for spec-level routing-equivalence assertions. */
  private[graft] def bucketOf(keyValues: Seq[Any], keyTypes: Seq[DataType]): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Pmod, XxHash64}
    new Pmod(new XxHash64(keyLiterals(keyValues, keyTypes)), CatLit(numBuckets.toLong))
      .eval(null).asInstanceOf[Long].toInt
  }

  /** Table maintenance: re-cluster the LATEST version by Z-order (the
    * OPTIMIZE ZORDER BY analogue). Reads the current version and writes a
    * new clustered one; older versions (and time travel to them) are
    * untouched. Typical cycle at scale: hash-bucketed writes + merges absorb
    * updates cheaply, a periodic optimize re-establishes tight per-file
    * ranges for the hot predicate columns, [[vacuum]] reclaims the old
    * files once the retention window passes. */
  def optimizeZorder(feature: String, entityKeys: Seq[String],
                     clusterCols: Seq[String], statsCols: Seq[String] = Nil,
                     bitsPerCol: Int = 6): Long = {
    val cur = read(feature, entityKeys).drop("__b")
    writeClusteredInternal(cur, feature, entityKeys, clusterCols, statsCols,
      bitsPerCol, dataChange = false)
  }

  /** Table maintenance: delete data files not referenced by any of the last
    * `keepVersions` manifests (the VACUUM analogue — bounded storage under
    * continuous merges, at the cost of time travel past the horizon).
    * Returns the deleted relative paths. Never touches the manifests or the
    * Delta log mirror (history stays auditable; only bytes are reclaimed) —
    * but the retention horizon is recorded in `_graft_log/_vacuum_horizon`
    * so reads of reclaimed versions fail with a store-level error naming
    * the horizon instead of a generic parquet file-not-found. */
  def vacuum(feature: String, keepVersions: Int = 2): Seq[String] = {
    require(keepVersions >= 1, "vacuum must keep at least the latest version")
    // cursor-claim crash debris rides the same maintenance cadence — and
    // BEFORE the nothing-to-reclaim early return, so a store whose data
    // versions are already tight still sheds its orphaned locks
    reapCursorLocks()
    val vs = versions(feature)
    if (vs.size <= keepVersions) return Seq.empty
    val retained = vs.takeRight(keepVersions)
    val live: Set[String] = retained
      .flatMap(v => readManifest(feature, v).values.flatten).toSet
    // horizon is MONOTONE: a later vacuum with a larger keepVersions must
    // not lower it below versions whose files an earlier vacuum already
    // reclaimed (the guard would silently re-open the file-not-found hole)
    val horizon = math.max(retained.head, vacuumHorizon(feature).getOrElse(Long.MinValue))
    writeSmall(new Path(logDir(feature), "_vacuum_horizon"), horizon.toString)
    val featureDir = new Path(s"$root/$feature")
    // candidate bucket dirs live under files_v*/__b=*; a dir is reclaimable
    // iff NO retained manifest references it
    val dead = fs.listStatus(featureDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("files_v"))
      .flatMap { vdir =>
        fs.listStatus(vdir.getPath).toSeq.filter(_.isDirectory)
          .map(b => s"${vdir.getPath.getName}/${b.getPath.getName}")
      }
      .filterNot(live)
    dead.foreach(rel => fs.delete(new Path(s"$root/$feature/$rel"), true))
    BucketedStore.evict(root, feature, horizon, dead.toSet)
    // drop files_vN roots with no remaining bucket DIRS so the layout stays
    // listable at scale (a Spark write leaves a _SUCCESS marker in its root,
    // so an emptiness check would never fire — the marker goes with the
    // root; a root [[merge]] wrote on the driver has no marker)
    fs.listStatus(featureDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("files_v"))
      .foreach { vdir =>
        if (!fs.listStatus(vdir.getPath).exists(_.isDirectory))
          fs.delete(vdir.getPath, true) }
    dead
  }

  /** CHANGE DATA FEED between two versions (the Delta CDF analogue):
    * returns the rows that changed with a `_change_type` column —
    * `insert`, `delete`, `update_preimage`, `update_postimage` — keyed on
    * the entity.
    *
    * Scale shape: the manifests say exactly WHICH buckets differ between
    * the versions (merge/append rewrite only touched buckets; untouched
    * buckets share file references), so the diff reads ONLY the changed
    * buckets of each version — at 100 TB a single-entity merge's change
    * feed reads 2/numBuckets of the table, not two full snapshots. Within
    * the changed buckets, one full-outer join on the entity key classifies
    * rows; non-key columns are compared by a null-safe xxhash64 fingerprint
    * over the UNION of both versions' columns (schema evolution: a column
    * absent in the older version fingerprints as NULL there, so a row that
    * gained a value registers as an update).
    *
    * Both versions must be at or above the vacuum horizon and hash-bucketed
    * (fails loudly otherwise, like every versioned read here). Defined for
    * tables under the one-row-per-key upsert discipline ([[merge]]'s
    * contract); duplicate keys accumulated via [[appendBucketed]] multiply
    * through the key join — dedupe first. */
  def changes(feature: String, entityKeys: Seq[String],
              fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changes needs fromVersion < toVersion, got $fromVersion >= $toVersion")
    val vFrom = resolveVersion(feature, Some(fromVersion))
    val vTo = resolveVersion(feature, Some(toVersion))
    require(clusteredBy(feature, vFrom).isEmpty && clusteredBy(feature, vTo).isEmpty,
      s"feature $feature has a Z-order clustered endpoint; CDF needs hash-bucketed versions")
    val mFrom = readManifest(feature, vFrom)
    val mTo = readManifest(feature, vTo)
    val changedBuckets = (mFrom.keySet ++ mTo.keySet)
      .filter(b => mFrom.get(b) != mTo.get(b))
    val relsFrom = mFrom.filter(t => changedBuckets(t._1)).values.flatten.toSeq
    val relsTo = mTo.filter(t => changedBuckets(t._1)).values.flatten.toSeq

    // nothing rewritten between the versions: empty feed with the TO schema
    if (changedBuckets.isEmpty)
      return read(feature, entityKeys, Some(vTo)).limit(0)
        .withColumn("_change_type", lit(""))

    val oldRows = if (relsFrom.isEmpty) None else Some(readPaths(feature, vFrom, relsFrom))
    val newRows = if (relsTo.isEmpty) None else Some(readPaths(feature, vTo, relsTo))
    // output schema = the TO version's schema (+ _change_type); preimages of
    // dropped columns are reported under the to-schema with nulls
    val toCols: Seq[String] = newRows.orElse(oldRows).map(_.columns.toSeq).getOrElse(Seq.empty)
      .filterNot(_ == "__b")
    def aligned(df: DataFrame, all: Seq[String]): DataFrame =
      df.select(all.map(c => if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    val allCols: Seq[String] =
      (oldRows.map(_.columns.toSeq).getOrElse(Seq.empty) ++
        newRows.map(_.columns.toSeq).getOrElse(Seq.empty))
        .distinct.filterNot(_ == "__b")
    val nonKey = allCols.filterNot(entityKeys.contains)
    // same null-safety rule as Versioning.dataHash: xxhash64 passes the seed
    // through on NULL, which alone would make (NULL, x) ≡ (x, NULL) — the
    // interleaved isNull flags pin every column position in the fold
    def fp(df: DataFrame): DataFrame =
      df.withColumn("__fp",
        if (nonKey.isEmpty) lit(0L)
        else xxhash64(nonKey.sorted.flatMap(c => Seq(col(c).isNull, col(c))): _*))
    val empty = aligned(newRows.orElse(oldRows).get, allCols).limit(0)
    val o = fp(oldRows.map(aligned(_, allCols)).getOrElse(empty))
      .select((entityKeys.map(col) :+ struct((nonKey.map(col) :+ col("__fp")): _*).as("__o")): _*)
    val n = fp(newRows.map(aligned(_, allCols)).getOrElse(empty))
      .select((entityKeys.map(col) :+ struct((nonKey.map(col) :+ col("__fp")): _*).as("__n")): _*)
    val joined = o.join(n, entityKeys, "full_outer")
    def emit(side: org.apache.spark.sql.Column, kind: String) =
      (entityKeys.map(col) ++ nonKey.map(c => side.getField(c).as(c)) :+
        lit(kind).as("_change_type"))
    val inserts = joined.where(col("__o").isNull)
      .select(emit(col("__n"), "insert"): _*)
    val deletes = joined.where(col("__n").isNull)
      .select(emit(col("__o"), "delete"): _*)
    val updated = joined.where(col("__o").isNotNull && col("__n").isNotNull &&
      col("__o").getField("__fp") =!= col("__n").getField("__fp"))
    val pre = updated.select(emit(col("__o"), "update_preimage"): _*)
    val post = updated.select(emit(col("__n"), "update_postimage"): _*)
    inserts.unionByName(deletes).unionByName(pre).unionByName(post)
      .select((toCols.map(col) :+ col("_change_type")): _*)
  }

  // ---- incremental CDF consumption ----------------------------------------
  // The consumer side of [[changes]]: a named durable cursor per downstream
  // pipeline, so each poll emits exactly the changes since the consumer's
  // last COMMITTED position. The position is a cursor record
  // ([[writeCursor]]: a crashed advance leaves the last complete record
  // readable, never a torn one). Two-phase by design — pollChanges never
  // moves the cursor; the consumer processes the feed, then calls
  // advanceCursor with the returned toVersion. A crash between the two
  // replays the same feed on the next poll (at-least-once, the same contract
  // as the checkpointed ingest loops; pair with idempotent downstream writes).

  private def consumerCursor(feature: String, cursor: String): String = {
    require(cursor.nonEmpty && cursor.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"cursor name must be [A-Za-z0-9_-]+, got '$cursor'")
    cursorName("cdf", feature, cursor)
  }

  /** Committed position of `cursor` (None = never advanced). */
  def cursorPosition(feature: String, cursor: String): Option[Long] =
    readCursor(consumerCursor(feature, cursor)).map(_.trim.toLong)

  /** Changes since the cursor's committed position, up to the latest
    * version. First poll (no committed position) emits the CURRENT snapshot
    * as `insert` rows — the bootstrap a brand-new consumer needs. Returns
    * (feed, toVersion); an already-caught-up consumer gets an empty feed
    * with toVersion = its position. Commit with [[advanceCursor]] AFTER
    * processing. */
  def pollChanges(feature: String, entityKeys: Seq[String],
                  cursor: String): (DataFrame, Long) = {
    val latest = latestVersion(feature)
      .getOrElse(throw new IllegalArgumentException(s"feature $feature has no versions"))
    cursorPosition(feature, cursor) match {
      case None =>
        (read(feature, entityKeys, Some(latest)).drop("__b")
          .withColumn("_change_type", lit("insert")), latest)
      case Some(pos) if pos >= latest =>
        (read(feature, entityKeys, Some(latest)).limit(0)
          .withColumn("_change_type", lit("")), pos)
      case Some(pos) =>
        (changes(feature, entityKeys, pos, latest), latest)
    }
  }

  /** Commit a consumer position. Monotone: moving a cursor backwards is
    * refused (it would silently re-deliver already-committed history —
    * reset by deleting the consumer's record dir under `_cursor/`
    * deliberately, not by accident). */
  def advanceCursor(feature: String, cursor: String, toVersion: Long): Unit = {
    cursorPosition(feature, cursor).foreach { pos =>
      require(toVersion >= pos,
        s"cursor $cursor at $pos cannot move backwards to $toVersion")
    }
    writeCursor(consumerCursor(feature, cursor), toVersion.toString)
  }

  /** Fraction of the table a merge of `updates` would rewrite (observability
    * for the 100 TB story). */
  def rewriteFraction(feature: String, updates: DataFrame, entityKeys: Seq[String]): Double = {
    val touched = updates.withColumn("__b", bucketCol(entityKeys))
      .select("__b").distinct().count()
    touched.toDouble / numBuckets
  }
}

object BucketedStore {
  // ---- session metadata cache ----------------------------------------------
  // JVM-wide caches for IMMUTABLE version-keyed artifacts (the Delta/Iceberg
  // snapshot-cache analogue). INVALIDATION CONTRACT:
  //  * A version's manifest, stats sidecar and file set never change after
  //    the manifest commit (manifest-last protocol; merge/append/compact
  //    always create a NEW version) — so (root, feature, version)-keyed
  //    entries can never go stale under the store's own API.
  //  * Concurrent writers only ADD versions. Version RESOLUTION
  //    (versions()/latestVersion/vacuumHorizon) is deliberately NOT cached:
  //    every read re-lists the log dir, so a version committed by another
  //    writer (or a horizon moved by a concurrent vacuum) is visible
  //    immediately.
  //  * Schemas are keyed without a version: a bucket dir's files never
  //    change once written, so every version referencing the same dirs
  //    shares their schema. dirSchemaCache holds one entry per bucket dir
  //    (each commit seeds the dirs it writes with the written schema; a
  //    read of an unseeded dir reads its footers on the driver), so a store
  //    that is never vacuumed grows it by one entry per dir written.
  //    mergedSchemaCache holds what Spark's mergeSchema inferred for a dir
  //    set ((root, feature, ";"-joined sorted dirs)) whose dirs disagree —
  //    only schema-evolved reads add to it.
  //  * vacuum() deletes data files but never rewrites manifests; a read of
  //    a reclaimed version fails loudly (resolveVersion's horizon check
  //    reads the live marker). vacuum also evicts what it reclaimed: the
  //    manifest and stats entries below the new horizon and every schema
  //    entry naming a deleted dir, so the caches of a long-lived store stay
  //    bounded by its retained versions plus the reads since.
  //  * Out of contract: an external process deleting a store root and
  //    recreating different content at the same path while this JVM holds
  //    entries for it. Recreation through THIS JVM's API is covered —
  //    commit refreshes the keys it commits, and
  //    seedSchema the dirs it writes.
  private[core] val manifestCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long), Map[Int, Seq[String]]]
  private[core] val statsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long), Map[Int, Map[String, (Double, Double)]]]
  private[core] val dirSchemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), StructType]
  private[core] val mergedSchemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), StructType]

  /** Drop what a vacuum of (root, feature) reclaimed from the caches. */
  private def evict(root: String, feature: String, horizon: Long, deadRels: Set[String]): Unit = {
    def below(k: (String, String, Long)) = k._1 == root && k._2 == feature && k._3 < horizon
    manifestCache.keySet.filter(below).foreach(manifestCache.remove)
    statsCache.keySet.filter(below).foreach(statsCache.remove)
    dropSchemas(root, feature, deadRels)
  }

  /** Drop the schema entries of (root, feature) for `rels` and every merged
    * set naming one of them. */
  private def dropSchemas(root: String, feature: String, rels: Set[String]): Unit = {
    rels.foreach(r => dirSchemaCache.remove((root, feature, r)))
    mergedSchemaCache.keySet
      .filter(k => k._1 == root && k._2 == feature && k._3.split(';').exists(rels))
      .foreach(mergedSchemaCache.remove)
  }

  // Checkpoint row layout (the open Delta checkpoint schema, minimal
  // columns): one action per row, the others null. Top-level case classes so
  // Spark's product encoder derives the nullable-struct schema.
  case class CkptFormat(provider: String, options: Map[String, String])
  case class CkptProtocol(minReaderVersion: Int, minWriterVersion: Int)
  case class CkptMetaData(id: String, format: CkptFormat, schemaString: String,
      partitionColumns: Seq[String], configuration: Map[String, String],
      createdTime: Long)
  case class CkptAdd(path: String, partitionValues: Map[String, String],
      size: Long, modificationTime: Long, dataChange: Boolean, stats: String)
  case class CkptRow(protocol: Option[CkptProtocol],
      metaData: Option[CkptMetaData], add: Option[CkptAdd])
}
