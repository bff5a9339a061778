package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style snapshot-manifest table layer.
  *
  * No Iceberg runtime jar ships in this sandbox (offline coursier), so the
  * snapshot semantics the north rule needs — snapshot isolation, time-travel
  * to a snapshot id, resumable per-partition checkpoints, and per-partition
  * lineage/row-count/byte metrics — are provided by a minimal manifest layer:
  * each commit writes parquet files into an immutable `data/<snapshotId>/`
  * directory and appends a JSON manifest recording the file list + stats.
  * Readers select files through a manifest, never by directory listing, so
  * concurrent/failed writers can't corrupt a read (same contract as Iceberg's
  * metadata tree, radically simplified). Swap-in point for a real Iceberg
  * catalog is this trait boundary.
  *
  * Reference counterpart: the registry's materialization_intervals
  * (Cimpress-MCP/feast registry.py:208-246) — the reference's only
  * resume/checkpoint primitive — generalized to file-level lineage.
  */
/** Per-file lineage: row/byte stats plus, for bucket-partitioned commits
  * ([[SnapshotTable.commitBucketed]]), the key-hash bucket the file holds —
  * the manifest-level stat that lets an upsert rewrite ONLY intersecting
  * files (the Iceberg per-file partition-stats analogue). `None` = written
  * by a plain commit (no bucket contract).
  */
final case class FileStat(path: String, rows: Long, bytes: Long,
    bucket: Option[Int] = None)
final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    files: Seq[FileStat],
    // checkpoint payload: arbitrary key (e.g. interval id) -> done marker
    watermark: Option[String],
    // modulus the files' buckets were computed under (bucketed commits
    // only). A per-file bucket id is meaningless without it: bucket 3 under
    // modulus 64 and bucket 3 under modulus 16 hold different key sets, so
    // an upsert must not carry files across a modulus change.
    bucketModulus: Option[Int] = None) {
  def totalRows: Long = files.map(_.rows).sum
  def totalBytes: Long = files.map(_.bytes).sum
}

object SnapshotTable {
  def apply(root: String): SnapshotTable = new SnapshotTable(root)
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()
}

final class SnapshotTable(val root: String) {
  private def metaDir: Path = Paths.get(root, "meta")
  private def manifestPath(id: Long): Path = metaDir.resolve(f"snap-$id%09d.json")
  private def currentPtr: Path = metaDir.resolve("CURRENT")

  /** Append a new snapshot: write df as parquet into a fresh immutable dir,
    * collect per-file stats from the parquet footers (no data re-scan), then
    * atomically publish the manifest. `numFiles` sizes the write parallelism
    * (row-group/file sizing — reference loaders/ingest.py:51-79).
    */
  def commit(df: DataFrame, numFiles: Int = 0, watermark: Option[String] = None): Snapshot = {
    Files.createDirectories(metaDir)
    val parent = currentSnapshotId
    val id = parent.getOrElse(0L) + 1L
    val dataDir = Paths.get(root, "data", f"$id%09d")
    clearOrphan(dataDir)
    val toWrite = if (numFiles > 0) df.repartition(numFiles) else df
    toWrite.write.mode("errorifexists").parquet(dataDir.toString)
    val files = listParquet(dataDir).map { p =>
      FileStat(p.toString, parquetRowCount(p), Files.size(p))
    }
    publish(id, parent, files, watermark)
  }

  /** Bucket-partitioned commit, the write half of
    * [[graft.materialize.Materialize.upsertLatestBucketed]]: `df`'s rows are
    * written into per-bucket parquet files (`bucketCol` becomes the
    * directory key and is NOT stored in the files — manifest metadata
    * only, so plain and bucketed snapshots share one table schema), each
    * [[FileStat]] records its bucket, and `carryForward` file stats from
    * the PARENT snapshot are re-referenced verbatim — those files are never
    * copied or rewritten; the new manifest just points at them. Snapshots
    * may therefore SHARE data files ([[expireSnapshots]] is reference-aware).
    */
  def commitBucketed(
      df: DataFrame,
      bucketCol: String,
      modulus: Int,
      carryForward: Seq[FileStat] = Nil,
      watermark: Option[String] = None): Snapshot = {
    Files.createDirectories(metaDir)
    val parent = currentSnapshotId
    val id = parent.getOrElse(0L) + 1L
    val dataDir = Paths.get(root, "data", f"$id%09d")
    clearOrphan(dataDir)
    // one shuffle on the bucket key -> every bucket lands whole in one task
    // -> exactly one file per non-empty bucket under bucketCol=<k>/
    df.repartition(org.apache.spark.sql.functions.col(bucketCol))
      .write.mode("errorifexists").partitionBy(bucketCol).parquet(dataDir.toString)
    // the bucket comes from the file's own directory name, never from the
    // rest of the path: a table root may itself contain a `<bucketCol>=`
    // segment
    val bucketRe = (java.util.regex.Pattern.quote(bucketCol) + "=(\\d+)").r
    val files = listParquet(dataDir).map { p =>
      val b = bucketRe.unapplySeq(p.getParent.getFileName.toString).map(_.head.toInt)
        .getOrElse(throw new IllegalStateException(
          s"bucketed commit produced a file outside a $bucketCol= dir: $p"))
      FileStat(p.toString, parquetRowCount(p), Files.size(p), Some(b))
    }
    publish(id, parent, carryForward ++ files, watermark, Some(modulus))
  }

  /** Remove leftovers of a CRASHED (never published) commit: `id` was
    * computed as CURRENT+1, so anything already at its data dir belongs to
    * a writer that died between its parquet write and its manifest publish.
    * Without this the retry dies forever on mode("errorifexists"),
    * defeating the resume contract (the data dir name is derived from the
    * published CURRENT, so the retry is otherwise idempotent).
    */
  private def clearOrphan(dataDir: Path): Unit =
    if (Files.exists(dataDir)) {
      val walk = Files.walk(dataDir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  private def publish(id: Long, parent: Option[Long], files: Seq[FileStat],
      watermark: Option[String], bucketModulus: Option[Int] = None): Snapshot = {
    val snap = Snapshot(id, parent, files, watermark, bucketModulus)
    val tmp = metaDir.resolve(s".snap-$id.tmp")
    Files.write(tmp, toJson(snap).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(id))
    Files.write(
      currentPtr, id.toString.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    snap
  }

  def currentSnapshotId: Option[Long] =
    if (Files.exists(currentPtr))
      Some(new String(Files.readAllBytes(currentPtr), StandardCharsets.UTF_8).trim.toLong)
    else None

  def snapshot(id: Long): Option[Snapshot] = {
    val p = manifestPath(id)
    if (Files.exists(p)) Some(fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    else None
  }

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
    spark.read.parquet(snap.files.map(_.path): _*)
  }

  /** Full snapshot chain, newest first (lineage). */
  def history: Seq[Snapshot] =
    currentSnapshotId.toSeq.flatMap { cur =>
      Iterator.iterate(snapshot(cur))(s => s.flatMap(_.parentId).flatMap(snapshot))
        .takeWhile(_.isDefined).flatten.toSeq
    }

  /** Small-file compaction (the Iceberg `rewrite_data_files` analogue — the
    * table-maintenance op that keeps a 100 TB table scannable after many
    * small incremental commits): rewrite the CURRENT snapshot's rows into
    * ~`targetBytes` files and commit the result as a NEW snapshot. Data is
    * unchanged (one distributed read + write, no driver materialization);
    * older snapshots remain time-travelable until [[expireSnapshots]]
    * drops them. Returns the compacted snapshot.
    */
  def compact(spark: SparkSession, targetBytes: Long = 128L * 1024 * 1024): Snapshot = {
    val cur = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no snapshot to compact in $root"))
    val nFiles = math.max(1L, (cur.totalBytes + targetBytes - 1) / targetBytes).toInt
    commit(read(spark), numFiles = nFiles, watermark = cur.watermark)
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
    val live = chain.take(keepLast).flatMap(_.files.map(_.path)).toSet
    val expired = chain.drop(keepLast)
    // Deletion is driven by the expired MANIFESTS' file lists, not by
    // snapshot-id-derived directories: a carried-forward file lives in its
    // WRITER's data/<id>/ dir but may only become unreferenced when a LATER
    // snapshot that re-referenced it expires — walking only the expired ids'
    // own dirs would orphan it forever. data/ dirs are also swept for
    // non-live stragglers (_SUCCESS markers, files from expired-earlier
    // snapshots whose ids are no longer in the chain).
    val dead = expired.flatMap(_.files.map(_.path)).toSet -- live
    dead.foreach(p => Files.deleteIfExists(Paths.get(p)))
    val dataRoot = Paths.get(root, "data")
    val keptIds = chain.take(keepLast).map(s => f"${s.snapshotId}%09d").toSet
    val currentId = currentSnapshotId.getOrElse(0L)
    if (Files.exists(dataRoot)) {
      val walk = Files.walk(dataRoot)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.filter(_ != dataRoot).foreach { p =>
          val ownDir = dataRoot.relativize(p).getName(0).toString
          // a dir with id > current belongs to an UNPUBLISHED in-flight
          // commit — never sweep it (its files are live-to-be)
          val published = ownDir.toLongOption.exists(_ <= currentId)
          if (Files.isRegularFile(p)) {
            // only sweep inside published dirs owned by NO kept snapshot: a
            // kept snapshot's dir may hold files a future expiry still needs
            if (published && !keptIds.contains(ownDir) && !live.contains(p.toString))
              Files.deleteIfExists(p)
          } else if (published) {
            val ls = Files.list(p)
            val empty = try !ls.iterator().hasNext finally ls.close()
            if (empty) Files.deleteIfExists(p)
          }
        }
      finally walk.close()
    }
    expired.map { s =>
      Files.deleteIfExists(manifestPath(s.snapshotId))
      s.snapshotId
    }
  }

  private def listParquet(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq.sortBy(_.toString)

  /** Row count from the parquet footer only — no data scan. The Hadoop
    * Configuration is shared (loading one costs milliseconds — per-file
    * construction was pure driver latency on every bucketed micro-batch
    * commit).
    */
  private def parquetRowCount(p: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), SnapshotTable.hadoopConf)
    val r = ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  // -- tiny hand-rolled JSON (no extra deps available offline) --------------
  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  private def toJson(s: Snapshot): String = {
    val fs = s.files.map { f =>
      val b = f.bucket.map(k => s""","bucket":$k""").getOrElse("")
      s"""{"path":"${esc(f.path)}","rows":${f.rows},"bytes":${f.bytes}$b}"""
    }.mkString("[", ",", "]")
    val par = s.parentId.map(_.toString).getOrElse("null")
    val wm = s.watermark.map(w => "\"" + esc(w) + "\"").getOrElse("null")
    val mod = s.bucketModulus.map(m => s""","bucketModulus":$m""").getOrElse("")
    s"""{"snapshotId":${s.snapshotId},"parentId":$par,"watermark":$wm$mod,"files":$fs}"""
  }
  /** Full inverse of [[esc]] — backslash escapes AND \\uXXXX control chars;
    * a partial unescape broke round-trips (a watermark with a quote no
    * longer matched its own interval id, so Backfill's crash healing and
    * `expireSnapshots`' live-path check silently failed for such keys).
    */
  private def unesc(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => out.append('"'); i += 2
          case '\\' => out.append('\\'); i += 2
          case 'n' => out.append('\n'); i += 2
          case 'u' if i + 5 < s.length =>
            out.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => out.append(c).append(other); i += 2
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }
  private def fromJson(j: String): Snapshot = {
    def longField(k: String): Option[Long] =
      s""""$k":\\s*(-?\\d+)""".r.findFirstMatchIn(j).map(_.group(1).toLong)
    val id = longField("snapshotId").get
    val parent = s""""parentId":\\s*(null|-?\\d+)""".r.findFirstMatchIn(j)
      .map(_.group(1)).filter(_ != "null").map(_.toLong)
    val wm = s""""watermark":\\s*"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(j)
      .map(m => unesc(m.group(1)))
    val fileRe = """\{"path":"((?:[^"\\]|\\.)*)","rows":(\d+),"bytes":(\d+)(?:,"bucket":(\d+))?\}""".r
    val files = fileRe.findAllMatchIn(j).map { m =>
      FileStat(unesc(m.group(1)),
        m.group(2).toLong, m.group(3).toLong, Option(m.group(4)).map(_.toInt))
    }.toSeq
    Snapshot(id, parent, files, wm,
      longField("bucketModulus").map(_.toInt))
  }
}
