package graft.table

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.fe.Backfill
import graft.fixtures.TokenSeq
import graft.materialize.Materialize

/** The manifest as the backfill checkpoint: a manifest's completed
  * intervals read back as `Long` bounds, coalesce into ranges, are carried
  * by every commit path and through expiry, and decide which grid
  * intervals a backfill runs.
  */
class ManifestIntervalsSpec extends SparkSpec {
  import spark.implicits._

  private def root(name: String): String = Files.createTempDirectory(name).toString
  private def kv(rows: (Long, Long, String)*) = rows.toDF("k", "ts", "v")
  private def intervals(root: String): Seq[Interval] =
    SnapshotTable(root).currentSnapshot.get.intervals

  test("a published manifest reads back Long interval bounds") {
    val r = root("graft_iv_long")
    // bounds that fit an Int: an erased field would read back as an Integer
    SnapshotTable(r).commit(kv((1L, 1L, "a")), completes = Some(Interval(1000L, 4000L)))
    val Seq(iv) = intervals(r) // parsed from meta/ by a fresh table
    assert(iv.hi - iv.lo == 3000L && iv.lo + 1L == 1001L)
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(r, "meta", "snap-000000001.json")), "UTF-8")
    assert(json.contains(""""intervals":[{"lo":1000,"hi":4000}]"""), json)
  }

  test("adjacent intervals coalesce, a gap stays a gap") {
    val r = root("graft_iv_coalesce")
    val t = SnapshotTable(r)
    def complete(lo: Long, hi: Long) = t.commit(kv((1L, 1L, "a")), completes = Some(Interval(lo, hi)))
    complete(0L, 10L)
    complete(10L, 20L)
    assert(intervals(r) == Seq(Interval(0L, 20L)))
    complete(30L, 40L)
    assert(intervals(r) == Seq(Interval(0L, 20L), Interval(30L, 40L)))
    complete(50L, 60L)
    complete(20L, 30L)
    assert(intervals(r) == Seq(Interval(0L, 40L), Interval(50L, 60L)))
    // an interval that overlaps two ranges merges them; a covered one adds nothing
    complete(35L, 55L)
    assert(intervals(r) == Seq(Interval(0L, 60L)))
    complete(5L, 15L)
    assert(intervals(r) == Seq(Interval(0L, 60L)))
    // a commit that completes nothing carries its parent's ranges
    t.commit(kv((2L, 1L, "b")))
    assert(intervals(r) == Seq(Interval(0L, 60L)))
  }

  test("intervals survive compact, both upserts and expireSnapshots(1)") {
    val r = root("graft_iv_carry")
    val t = SnapshotTable(r)
    t.commit(kv((1L, 10L, "a")), completes = Some(Interval(0L, 10L)))
    t.commit(kv((1L, 10L, "a"), (2L, 10L, "a")), completes = Some(Interval(20L, 30L)))
    val done = Seq(Interval(0L, 10L), Interval(20L, 30L))
    Materialize.upsertLatestBucketed(t, kv((2L, 20L, "b")), Seq("k"), "ts")
    assert(intervals(r) == done)
    Materialize.upsertLatestBucketed(t, kv((3L, 20L, "c")), Seq("k"), "ts", nBuckets = 4)
    assert(intervals(r) == done)
    t.compact(spark)
    assert(intervals(r) == done)
    assert(t.expireSnapshots(1) == Seq(4L, 3L, 2L, 1L))
    assert(t.history.map(_.snapshotId) == Seq(5L))
    assert(intervals(r) == done)
    assert(t.read(spark).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 20L, "c")))
  }

  test("a grid interval the manifest covers only in part runs again") {
    def at(sec: Long) = new Timestamp((TokenSeq.AnchorEpoch + sec) * 1000L)
    val t = SnapshotTable(root("graft_iv_partial"))
    val src = TokenSeq.generate(spark, n = 1000, entities = 5)
    // the first half hour of the first hour is done
    t.commit(Materialize.pullLatest(src, Seq("doc_id"), "event_timestamp",
      Some("created_timestamp"), at(0), at(1800)),
      completes = Some(Interval(at(0).getTime, at(1800).getTime)))
    val ran = Backfill.run(spark, src, Seq("doc_id"), "event_timestamp",
      Some("created_timestamp"), at(0), at(2 * 3600), 3600, t)
    assert(ran.map(_.intervalId) == Seq(
      s"${at(0).toInstant}_${at(3600).toInstant}",
      s"${at(3600).toInstant}_${at(2 * 3600).toInstant}"))
    assert(t.currentSnapshot.get.intervals == Seq(Interval(at(0).getTime, at(2 * 3600).getTime)))
    assert(t.history.size == 3)
  }
}
