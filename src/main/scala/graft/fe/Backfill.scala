package graft.fe

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.sql.Timestamp
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Json
import graft.materialize.Materialize
import graft.table.{Snapshot, SnapshotTable}

/** Resumable backfill materialization: walk an interval grid over a feature
  * history, materialize latest-per-key for each interval into a snapshot
  * table, and record a durable per-interval checkpoint + per-partition
  * lineage metrics. Re-running after a crash skips completed intervals —
  * the Spark re-expression of the reference's materialization_intervals
  * resume log (feast registry.py:208-246, feature_store.py:343-422
  * materialize_incremental).
  */
final case class IntervalMetrics(
    intervalId: String,
    rows: Long,
    bytes: Long,
    snapshotId: Long,
    partitions: Seq[(Int, Long)]) // (write partition id, rowCount) lineage

object Backfill {

  /** Checkpoint log: one JSON line per completed interval (.jsonl),
    * append-only, flushed per interval so a crash loses at most the
    * in-flight interval. A torn last line is skipped; the table watermark
    * then heals that interval. Local files only — a scheme-less path or a
    * `file:` URI; any other scheme fails at construction. The log stays on
    * `java.nio` because Hadoop's local filesystem is a `ChecksumFileSystem`,
    * whose `append` throws `UnsupportedOperationException`.
    */
  final class CheckpointLog(path: String) {
    private val file = {
      val uri = new org.apache.hadoop.fs.Path(path).toUri
      uri.getScheme match {
        case null => Paths.get(path)
        case "file" => Paths.get(uri.getPath)
        case other => throw new IllegalArgumentException(
          s"checkpoint log $path: scheme '$other' is not a local file; " +
            "use a plain path or a file: URI")
      }
    }
    // toAbsolutePath: a bare relative filename has a null getParent
    Files.createDirectories(file.toAbsolutePath.getParent)
    def completed: Set[String] =
      if (!Files.exists(file)) Set.empty
      else Files.readAllLines(file).asScala
        .flatMap(l => Try(Json.mapper.readTree(l).get("intervalId").asText).toOption)
        .toSet
    def append(m: IntervalMetrics): Unit = {
      val line = Json.write(ListMap(
        "intervalId" -> m.intervalId, "rows" -> m.rows, "bytes" -> m.bytes,
        "snapshotId" -> m.snapshotId,
        "partitions" -> m.partitions.map { case (p, n) => ListMap("pid" -> p, "rows" -> n) }))
      Files.write(file, (line + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  /** Incremental-materialization start (feast feature_store.py:343-422
    * `materialize_incremental`): resume from the end of the most recent
    * completed interval in the checkpoint log; with no history, look back
    * `ttl` from `end` (unbounded ttl ⇒ epoch 0).
    */
  def incrementalStart(
      checkpointPath: String,
      end: Timestamp,
      ttlSeconds: Option[Long]): Timestamp = {
    val log = new CheckpointLog(checkpointPath)
    val lastEnd = log.completed
      .flatMap(_.split('_') match {
        case Array(_, hi) => Try(java.time.Instant.parse(hi).toEpochMilli).toOption
        case _ => None
      })
    lastEnd.maxOption.map(new Timestamp(_)).getOrElse {
      ttlSeconds match {
        case Some(t) => new Timestamp(end.getTime - t * 1000L)
        case None => new Timestamp(0L)
      }
    }
  }

  /** Split [start, end) into aligned intervals of `stepSeconds`. */
  def grid(start: Timestamp, end: Timestamp, stepSeconds: Long): Seq[(Timestamp, Timestamp)] = {
    val s = start.getTime
    val e = end.getTime
    val step = stepSeconds * 1000L
    Iterator.iterate(s)(_ + step).takeWhile(_ < e)
      .map(lo => (new Timestamp(lo), new Timestamp(math.min(lo + step, e))))
      .toSeq
  }

  /** Run (or resume) the backfill. Returns metrics for intervals executed in
    * THIS run (skipped ones are absent). One write job per interval: its
    * per-partition lineage is read from the committed manifest's file
    * stats, not from a cached second pass.
    */
  def run(
      spark: SparkSession,
      source: DataFrame,
      keys: Seq[String],
      ts: String,
      createdTs: Option[String],
      start: Timestamp,
      end: Timestamp,
      stepSeconds: Long,
      table: SnapshotTable,
      checkpointPath: String): Seq[IntervalMetrics] = {
    val log = new CheckpointLog(checkpointPath)
    val done = log.completed
    grid(start, end, stepSeconds).flatMap { case (lo, hi) =>
      val id = s"${lo.toInstant}_${hi.toInstant}"
      if (done.contains(id)) None
      else {
        // Crash healing: commit happened but the process died BEFORE the
        // checkpoint append — the table's current watermark already carries
        // this interval id. Re-committing would duplicate the snapshot; heal
        // by appending the missing log line from the committed snapshot.
        val cur = table.currentSnapshot
        val snap = cur.filter(_.watermark.contains(id)).getOrElse(
          table.commit(Materialize.pullLatest(source, keys, ts, createdTs, lo, hi),
            watermark = Some(id), parentId = cur.map(_.snapshotId)))
        val m = IntervalMetrics(id, snap.totalRows, snap.totalBytes, snap.snapshotId,
          partitionRows(snap))
        log.append(m)
        Some(m)
      }
    }
  }

  private val PartFile = """part-(\d+)-.*""".r

  /** (partitionId, rowCount) per write task of `snap`: manifest row counts
    * summed per id parsed from Spark's `part-<partition>-...` file names,
    * dropping zero-row files (an empty write still leaves one).
    */
  private def partitionRows(snap: Snapshot): Seq[(Int, Long)] =
    snap.files.map { f =>
      f.path.substring(f.path.lastIndexOf('/') + 1) match {
        case PartFile(pid) => (pid.toInt, f.rows)
        case name => throw new IllegalStateException(
          s"snapshot ${snap.snapshotId} holds $name, not a Spark part-NNNNN- file")
      }
    }.filter(_._2 > 0).groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
}
