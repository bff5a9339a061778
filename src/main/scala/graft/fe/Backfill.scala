package graft.fe

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.materialize.Materialize
import graft.table.{Interval, Snapshot, SnapshotTable}

/** Resumable backfill materialization: walk an interval grid over a feature
  * history and materialize latest-per-key for each interval into a snapshot
  * table, with per-partition lineage metrics. The table's manifest is the
  * checkpoint: each interval's commit records it among the snapshot's
  * completed intervals ([[graft.table.Snapshot.intervals]]) in the same
  * publish that lands its rows, so a re-run after a crash skips exactly the
  * published intervals — the Spark re-expression of the reference's
  * materialization_intervals (feast registry.py:208-246,
  * feature_store.py:343-422 materialize_incremental).
  *
  * Each interval's rows are committed as the WHOLE new snapshot, not
  * upserted: the current snapshot holds the latest row per key of the last
  * interval run, while its manifest records every completed interval. A key
  * with no row in the last interval is read by time travel to the snapshot
  * of an interval that holds it ([[IntervalMetrics.snapshotId]]).
  */
final case class IntervalMetrics(
    intervalId: String,
    rows: Long,
    bytes: Long,
    snapshotId: Long,
    partitions: Seq[(Int, Long)]) // (write partition id, rowCount) lineage

object Backfill {

  /** Incremental-materialization start (feast feature_store.py:343-422
    * `materialize_incremental`): resume from the end of the latest
    * completed interval in `table`'s current manifest; with no history,
    * look back `ttl` from `end` (unbounded ttl ⇒ epoch 0).
    */
  def incrementalStart(
      table: SnapshotTable,
      end: Timestamp,
      ttlSeconds: Option[Long]): Timestamp =
    table.currentSnapshot.flatMap(_.intervals.lastOption).map(r => new Timestamp(r.hi))
      .getOrElse(new Timestamp(ttlSeconds.fold(0L)(t => end.getTime - t * 1000L)))

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
    * THIS run: a grid interval that the current manifest's completed
    * intervals cover is skipped, one that is only partly covered runs
    * again. One write job per interval: its per-partition lineage is read
    * from the committed manifest's file stats, not from a cached second
    * pass. Each commit follows the snapshot before it, so a snapshot another
    * writer publishes meanwhile fails the run
    * (`ConcurrentModificationException`).
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
      table: SnapshotTable): Seq[IntervalMetrics] = {
    var cur = table.currentSnapshot
    grid(start, end, stepSeconds).flatMap { case (lo, hi) =>
      val iv = Interval(lo.getTime, hi.getTime)
      if (cur.exists(_.covers(iv))) None
      else {
        val snap = table.commit(Materialize.pullLatest(source, keys, ts, createdTs, lo, hi),
          completes = Some(iv), parent = cur)
        cur = Some(snap)
        Some(IntervalMetrics(s"${lo.toInstant}_${hi.toInstant}", snap.totalRows,
          snap.totalBytes, snap.snapshotId, partitionRows(snap)))
      }
    }
  }

  /** The signature from before the manifest was the checkpoint, kept only
    * for the benchmark driver's `BackfillUpsert`: `checkpointPath` is
    * ignored. The next benchmark change (ROADMAP direction 1) deletes it.
    */
  @deprecated("the table's manifest is the checkpoint; drop checkpointPath", "0.1.0")
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
      checkpointPath: String): Seq[IntervalMetrics] =
    run(spark, source, keys, ts, createdTs, start, end, stepSeconds, table)

  /** (partitionId, rowCount) per write task of `snap`: manifest row counts
    * summed per id parsed from Spark's `part-<partition>-...` file names,
    * dropping zero-row files (an empty write still leaves one).
    */
  private def partitionRows(snap: Snapshot): Seq[(Int, Long)] =
    snap.files.map(f => (SnapshotTable.partIndex(f.path), f.rows))
      .filter(_._2 > 0).groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
}
