package graft.table

import java.io.FileNotFoundException
import java.util.{ConcurrentModificationException, UUID}

import com.fasterxml.jackson.annotation.JsonIgnoreProperties
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.spark.sql.{graftshim, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions.{col, lit}

import graft.Json

/** Iceberg-style snapshot-manifest table layer.
  *
  * No Iceberg runtime jar ships in this sandbox (offline coursier), so the
  * snapshot semantics the north rule needs — snapshot isolation, time-travel
  * to a snapshot id, resumable per-interval checkpoints, and per-partition
  * lineage/row-count/byte metrics — are provided by a minimal manifest layer
  * on the Hadoop `FileSystem` of `root` (`/local/path`, `file://`, `hdfs://`):
  *
  *  - layout: `data/<id>/<attempt>/` holds one commit attempt's parquet
  *    files; `meta/snap-<id>.json` is the published manifest of snapshot
  *    `<id>` (file list + stats, one Jackson-encoded [[Snapshot]]);
  *  - publish: each attempt stages its manifest in its own tmp file and
  *    renames it onto `meta/snap-<id>.json` WITHOUT overwrite. Exactly one
  *    attempt per id wins; a loser deletes only its own attempt dir and tmp
  *    file and throws `ConcurrentModificationException`;
  *  - current snapshot = the highest published manifest id; there is no
  *    pointer file to tear, and a crash anywhere before the rename leaves
  *    only unreferenced files;
  *  - checkpoint: every manifest carries the table's completed backfill
  *    intervals ([[Snapshot.intervals]]), cumulative from its parent, so the
  *    publish that lands an interval's rows is also its checkpoint record,
  *    and [[expireSnapshots]] keeps it with the current snapshot.
  *
  * Readers select files through a manifest, never by directory listing, so
  * concurrent/failed writers can't corrupt a read (same contract as Iceberg's
  * metadata tree, radically simplified). The one-winner guarantee is only as
  * strong as the store's no-overwrite rename: HDFS refuses an existing
  * destination atomically; Hadoop's local filesystem (a checksum layer over
  * an overwriting POSIX rename) checks the destination first, so two renames
  * of one id in the same instant can both pass that check. On stores
  * without atomic rename (`s3a`) the single-writer rule still applies: one
  * committer per table at a time.
  * Swap-in point for a real Iceberg catalog is this class boundary.
  *
  * Reference counterpart: the registry's materialization_intervals
  * (Cimpress-MCP/feast registry.py:208-246) — the reference's only
  * resume/checkpoint primitive — kept here in the snapshot metadata, where
  * Iceberg keeps snapshot summary properties.
  */
/** Per-file lineage: row/byte stats plus, for bucket-partitioned commits
  * ([[SnapshotTable.commitBucketed]]), the bucket the file holds: the
  * index of the Spark hash partition ([[SnapshotTable.bucketOf]]) that
  * wrote it, which is also the `part-NNNNN` index in its name. This is the
  * manifest-level stat that lets an upsert rewrite ONLY intersecting files
  * (the Iceberg per-file partition-stats analogue). `None` = written by a
  * plain commit (no bucket contract).
  */
final case class FileStat(path: String, rows: Long, bytes: Long,
    bucket: Option[Int] = None)

/** A completed backfill interval `[lo, hi)` in epoch milliseconds. The
  * bounds are plain `Long` fields: a tuple or `Option[Long]` erases to
  * `Object`, and Jackson would fill it with an Integer (the `parentId`
  * note on [[Snapshot]]).
  */
final case class Interval(lo: Long, hi: Long)

object Interval {
  /** `ranges` (ascending, disjoint, not adjacent) with `iv` added:
    * overlapping and adjacent ranges merge into one, a gap stays a gap.
    */
  def add(ranges: Seq[Interval], iv: Interval): Seq[Interval] = {
    val (before, rest) = ranges.span(_.hi < iv.lo)
    val (touching, after) = rest.span(_.lo <= iv.hi)
    val merged = Interval((iv +: touching).map(_.lo).min, (iv +: touching).map(_.hi).max)
    (before :+ merged) ++ after
  }
}

// a manifest written before the intervals moved into it carries a
// `watermark` (the last interval's id); the intervals were in a separate
// log, so such a table resumes with none recorded. One written before the
// buckets became hash partitions carries a `bucketModulus` (xxhash64
// buckets under `__bucket=` dirs); it reads as unbucketed, so the next
// upsert rewrites all of its files once.
@JsonIgnoreProperties(Array("watermark", "bucketModulus"))
final case class Snapshot(
    snapshotId: Long,
    // without the content type Jackson fills the erased Option with an
    // Integer, and the first `parentId.get + 1L` throws ClassCastException
    @JsonDeserialize(contentAs = classOf[java.lang.Long]) parentId: Option[Long],
    files: Seq[FileStat],
    // completed backfill intervals, coalesced and ascending: the table's
    // checkpoint, carried forward from the parent by every commit path
    intervals: Seq[Interval] = Nil,
    // number of hash partitions the files' buckets are indices of
    // ([[SnapshotTable.bucketOf]]; bucketed commits only). A per-file
    // bucket id is meaningless without it: bucket 3 of 64 and bucket 3 of
    // 16 hold different key sets, so an upsert must not carry files across
    // a change of this count.
    hashBuckets: Option[Int] = None) {
  def totalRows: Long = files.map(_.rows).sum
  def totalBytes: Long = files.map(_.bytes).sum
  /** Whether a completed interval holds all of `iv`. */
  def covers(iv: Interval): Boolean = intervals.exists(r => r.lo <= iv.lo && iv.hi <= r.hi)
}

/** A commit attempt whose files are written and whose manifest is staged
  * at `tmp`, not yet published.
  */
private[table] final case class Staged(snapshot: Snapshot, attemptDir: Path, tmp: Path)

object SnapshotTable {
  def apply(root: String): SnapshotTable = new SnapshotTable(root)
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()
  // built once: the options-less `ParquetFileReader.open` loads a fresh Hadoop conf per call
  private lazy val readOptions = HadoopReadOptions.builder(hadoopConf).build()
  // `.crc` sidecars and staged `.snap-*.tmp` files never match
  private val Manifest = """snap-(\d{9,})\.json""".r
  private val PartFile = """part-(\d+)-.*""".r

  /** The index of the write task that produced a Spark output file, read
    * from its `part-<index>-<job>-c00N...` name; only the file name counts,
    * never the directories above it.
    */
  private[graft] def partIndex(path: String): Int =
    path.substring(path.lastIndexOf('/') + 1) match {
      case PartFile(i) => i.toInt
      case _ => throw new IllegalStateException(s"$path is not a Spark part-NNNNN- file")
    }

  // the literal makes the exchange's partitioning differ from any
  // `HashPartitioning(keys, n)` below it, so it is never removed as
  // redundant, and as a REPARTITION_BY_NUM exchange AQE never coalesces it
  private def bucketCols(keys: Seq[String], modulus: Int): Seq[Column] =
    keys.map(col) :+ lit(modulus)

  /** The bucket of a row under `modulus` buckets: the index of the
    * partition that `repartition(modulus, keys :+ lit(modulus))` sends it
    * to, `HashPartitioning`'s own partition-id expression (Murmur3, seed
    * 42, pmod). That is `pmod(hash(keys :+ modulus), modulus)` except for
    * strings of a non-binary collation, which the exchange hashes by
    * collation key and `hash` by bytes.
    */
  def bucketOf(keys: Seq[String], modulus: Int): Column = graftshim.toColumn(
    HashPartitioning(bucketCols(keys, modulus).map(graftshim.toExpression), modulus)
      .partitionIdExpression)
}

final class SnapshotTable(val root: String) {
  private val rootPath = new Path(root)
  private lazy val fs: FileSystem = rootPath.getFileSystem(SnapshotTable.hadoopConf)
  private def metaDir = new Path(rootPath, "meta")
  private def dataDir(id: Long) = new Path(rootPath, f"data/$id%09d")
  private def manifestPath(id: Long) = new Path(metaDir, f"snap-$id%09d.json")

  /** Append a new snapshot: write df as parquet into a fresh immutable dir,
    * collect per-file stats from the parquet footers (no data re-scan), then
    * publish the manifest. `numFiles` sizes the write parallelism
    * (row-group/file sizing — reference loaders/ingest.py:51-79).
    *
    * `parent` is the snapshot the new one follows (`None`: an empty
    * table), by default the current one. A read-modify-write caller passes
    * the snapshot it read: the commit then takes id `parent + 1`, so if
    * another writer published that id in between, the publish fails with
    * `ConcurrentModificationException` instead of landing the caller's
    * stale result on top of the other writer's snapshot. The new manifest
    * carries the parent's completed intervals, plus `completes` when this
    * commit lands a backfill interval.
    */
  def commit(df: DataFrame, numFiles: Int = 0, completes: Option[Interval] = None,
      parent: Option[Snapshot] = currentSnapshot): Snapshot =
    publish(stageCommit(df, numFiles, completes, parent))

  private[table] def stageCommit(df: DataFrame, numFiles: Int,
      completes: Option[Interval] = None, parent: Option[Snapshot] = currentSnapshot): Staged =
    stage(parent, completes) { dir =>
      val toWrite = if (numFiles > 0) df.repartition(numFiles) else df
      toWrite.write.mode("errorifexists").parquet(dir.toString)
      listParquet(dir).map(fileStat(_, None))
    }

  /** Bucket-partitioned commit, the write half of
    * [[graft.materialize.Materialize.upsertLatestBucketed]]: `df`'s rows are
    * hash-partitioned on `keys` into `modulus` partitions and written with
    * no sort, so write task `b` holds exactly bucket `b`
    * ([[SnapshotTable.bucketOf]]) and names its file `part-<b>-...`; each
    * [[FileStat]] records that index as its bucket (zero-row files, which
    * Spark's task 0 leaves for an empty bucket 0, are deleted before the
    * publish). `carryForward` file stats from the PARENT snapshot are
    * re-referenced verbatim — those files are never copied or rewritten;
    * the new manifest just points at them. Snapshots may therefore SHARE
    * data files ([[expireSnapshots]] is reference-aware). `parent` is the
    * snapshot `carryForward` came from, as in [[commit]].
    */
  def commitBucketed(
      df: DataFrame,
      keys: Seq[String],
      modulus: Int,
      carryForward: Seq[FileStat] = Nil,
      parent: Option[Snapshot] = currentSnapshot): Snapshot =
    publish(stage(parent, None, Some(modulus), carryForward) { dir =>
      df.repartition(modulus, SnapshotTable.bucketCols(keys, modulus): _*)
        .write.mode("errorifexists").parquet(dir.toString)
      listParquet(dir).flatMap { s =>
        val f = fileStat(s, Some(SnapshotTable.partIndex(s.getPath.getName)))
        if (f.rows > 0) Some(f) else { fs.delete(s.getPath, false); None }
      }
    })

  /** Write one commit attempt of snapshot `parent + 1`: `write` fills the
    * attempt's own `data/<id>/<attempt>/` dir, and the manifest (carried
    * files first, the parent's intervals plus `completes`) is staged in an
    * attempt-unique tmp file next to the published ones.
    */
  private def stage(parent: Option[Snapshot], completes: Option[Interval],
      hashBuckets: Option[Int] = None, carryForward: Seq[FileStat] = Nil)(
      write: Path => Seq[FileStat]): Staged = {
    fs.mkdirs(metaDir)
    val parentId = parent.map(_.snapshotId)
    val id = parentId.getOrElse(0L) + 1L
    val attempt = UUID.randomUUID().toString
    val dir = new Path(dataDir(id), attempt)
    val done = parent.fold(Seq.empty[Interval])(_.intervals)
    val snap = Snapshot(id, parentId, carryForward ++ write(dir),
      completes.fold(done)(Interval.add(done, _)), hashBuckets)
    val tmp = new Path(metaDir, s".snap-$id-$attempt.tmp")
    val out = fs.create(tmp, false)
    try out.write(Json.mapper.writeValueAsBytes(snap)) finally out.close()
    Staged(snap, dir, tmp)
  }

  /** Publish a staged attempt by renaming its manifest onto
    * `meta/snap-<id>.json` without overwrite. If another attempt already
    * published that id, remove this attempt's files and throw.
    */
  private[table] def publish(s: Staged): Snapshot = {
    val id = s.snapshot.snapshotId
    if (!fs.rename(s.tmp, manifestPath(id))) {
      fs.delete(s.attemptDir, true)
      fs.delete(s.tmp, false)
      throw new ConcurrentModificationException(
        s"snapshot $id of $root was published by another writer; this commit was discarded")
    }
    s.snapshot
  }

  /** Highest published manifest id. */
  def currentSnapshotId: Option[Long] =
    try fs.listStatus(metaDir).iterator.map(_.getPath.getName)
      .collect { case SnapshotTable.Manifest(id) => id.toLong }.maxOption
    catch { case _: FileNotFoundException => None }

  def snapshot(id: Long): Option[Snapshot] =
    try {
      val in = fs.open(manifestPath(id))
      try Some(Json.mapper.readValue(in: java.io.InputStream, classOf[Snapshot]))
      finally in.close()
    } catch { case _: FileNotFoundException => None }

  def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(snapshot)

  /** Manifest-selected read (time travel when `asOf` is set). Files are
    * passed explicitly — the reader never lists directories, so partial
    * writes from a crashed commit are invisible.
    */
  def read(spark: SparkSession, asOf: Option[Long] = None): DataFrame = {
    val snap = asOf match {
      // a missing requested snapshot must FAIL, not silently read current
      // (it may have been dropped by expireSnapshots)
      case Some(id) => snapshot(id).getOrElse(throw new IllegalStateException(
        s"snapshot $id not found in $root (expired or never committed)"))
      case None => currentSnapshot.getOrElse(
        throw new IllegalStateException(s"no snapshot in $root"))
    }
    read(spark, snap)
  }

  /** The rows of `snap`: the files its manifest lists. */
  def read(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.read.parquet(snap.files.map(_.path): _*)

  /** Full snapshot chain, newest first (lineage). */
  def history: Seq[Snapshot] =
    Iterator.iterate(currentSnapshot)(_.flatMap(_.parentId).flatMap(snapshot))
      .takeWhile(_.isDefined).flatten.toSeq

  /** Small-file compaction (the Iceberg `rewrite_data_files` analogue — the
    * table-maintenance op that keeps a 100 TB table scannable after many
    * small incremental commits): rewrite the current snapshot's rows into
    * ~`targetBytes` files and commit the result as a NEW snapshot. Data is
    * unchanged (one distributed read + write, no driver materialization);
    * older snapshots remain time-travelable until [[expireSnapshots]]
    * drops them. Returns the compacted snapshot. A snapshot published by
    * another writer during the rewrite makes the compaction fail
    * (`ConcurrentModificationException`) rather than supersede it.
    */
  def compact(spark: SparkSession, targetBytes: Long = 128L * 1024 * 1024): Snapshot = {
    val cur = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no snapshot to compact in $root"))
    val nFiles = math.max(1L, (cur.totalBytes + targetBytes - 1) / targetBytes).toInt
    commit(read(spark, cur), numFiles = nFiles, parent = Some(cur))
  }

  /** Snapshot retention (the Iceberg `expire_snapshots` analogue): keep the
    * newest `keepLast` snapshots of the chain, delete every older manifest
    * and every data file NOT referenced by a kept snapshot. Bucketed
    * upserts carry files forward across commits, so snapshots share files —
    * deletion is reference-counted against the kept set, exactly like
    * Iceberg's reachability-based expiry. Time travel to an expired id
    * fails afterwards — that is the point (bounded storage); lineage above
    * the cut is preserved. Returns the expired snapshot ids.
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val chain = history
    val (kept, expired) = chain.splitAt(keepLast)
    // recorded paths and listed paths compare in one qualified form
    def qualified(f: FileStat) = fs.makeQualified(new Path(f.path))
    val live = kept.flatMap(_.files.map(qualified)).toSet
    // Deletion is driven by the expired MANIFESTS' file lists, not by
    // snapshot-id-derived directories: a carried-forward file lives in its
    // WRITER's data/<id>/ dir but may only become unreferenced when a LATER
    // snapshot that re-referenced it expires — walking only the expired ids'
    // own dirs would orphan it forever. data/ dirs are also swept for
    // non-live stragglers (_SUCCESS markers, discarded attempts, files from
    // expired-earlier snapshots whose ids are no longer in the chain).
    (expired.flatMap(_.files.map(qualified)).toSet -- live).foreach(fs.delete(_, false))
    val keptIds = kept.map(_.snapshotId).toSet
    val currentId = chain.headOption.fold(0L)(_.snapshotId)
    val dataRoot = new Path(rootPath, "data")
    if (fs.exists(dataRoot)) fs.listStatus(dataRoot).foreach { s =>
      // only sweep published dirs owned by NO kept snapshot: a dir with
      // id > current belongs to an in-flight commit (its files are
      // live-to-be), and a kept snapshot's dir may hold files a future
      // expiry still needs
      val id = s.getPath.getName.toLongOption
      if (s.isDirectory && id.exists(i => i <= currentId && !keptIds(i))) sweep(s.getPath, live)
    }
    expired.map { s =>
      fs.delete(manifestPath(s.snapshotId), false)
      s.snapshotId
    }
  }

  /** Delete every non-live file under `dir`, then `dir` itself once empty. */
  private def sweep(dir: Path, live: Set[Path]): Unit = {
    fs.listStatus(dir).foreach { s =>
      if (s.isDirectory) sweep(s.getPath, live)
      else if (!live(s.getPath)) fs.delete(s.getPath, false)
    }
    if (fs.listStatus(dir).isEmpty) fs.delete(dir, true)
  }

  /** Parquet files in `dir` (every commit writes them flat). `listStatus`,
    * not `listFiles`: the latter's located statuses load each local file's
    * owner and permissions, which measurably slowed every commit.
    */
  private def listParquet(dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString)

  /** File stats for the manifest. A scheme-less root records plain absolute
    * paths (the form earlier manifests hold); a URI root records qualified
    * ones. The row count comes from the parquet footer only — no data scan.
    */
  private def fileStat(s: FileStatus, bucket: Option[Int]): FileStat = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val path =
      if (rootPath.toUri.getScheme == null) Path.getPathWithoutSchemeAndAuthority(s.getPath)
      else s.getPath
    val r = ParquetFileReader.open(
      HadoopInputFile.fromStatus(s, SnapshotTable.hadoopConf), SnapshotTable.readOptions)
    val rows = try r.getRecordCount finally r.close()
    FileStat(path.toString, rows, s.getLen, bucket)
  }
}
