package graft.materialize

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Multi-view online lookup vs a hand-computed oracle: per-feature value +
  * status assembly across views with different TTLs (the reference's
  * get_online_features response, feature_store.py:503-617).
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Long) = new Timestamp(1618185600000L + min * 60000L)

  test("lookupMulti: per-feature statuses across two views (all four statuses)") {
    // view A history: key 1 fresh (value present), key 2 fresh (value NULL),
    // key 3 stale (beyond ttl); key 4 absent entirely
    val a = Seq(
      (1L, t(50), Some(1.5), "x1"),
      (1L, t(40), Some(9.9), "x0"), // superseded by t50
      (2L, t(55), None, "x2"),
      (3L, t(1), Some(3.0), "x3"))
      .toDF("k", "ts", "v", "tag")
    // view B: only key 2 has history
    val b = Seq((2L, t(58), 7.0)).toDF("k", "ts", "w")
    val keys = Seq(1L, 2L, 3L, 4L).toDF("k")

    val out = Materialize.lookupMulti(
      keys,
      Seq(
        Materialize.OnlineView("a", a, Seq("k"), "ts", Seq("v", "tag"),
          ttlSeconds = Some(30L * 60)),
        Materialize.OnlineView("b", b, Seq("k"), "ts", Seq("w"),
          ttlSeconds = None)),
      asOf = t(60))
      .collect().map { r =>
        def s(c: String) = r.getString(r.fieldIndex(c))
        r.getLong(0) -> (s("a__v__status"), s("a__tag__status"), s("b__w__status"))
      }.toMap

    assert(out(1L) == (("PRESENT", "PRESENT", "NOT_FOUND")))
    assert(out(2L) == (("NULL_VALUE", "PRESENT", "PRESENT")))
    assert(out(3L) == (("OUTSIDE_MAX_AGE", "OUTSIDE_MAX_AGE", "NOT_FOUND")))
    assert(out(4L) == (("NOT_FOUND", "NOT_FOUND", "NOT_FOUND")))

    // values travel alongside statuses
    val vals = Materialize.lookupMulti(
      keys, Seq(Materialize.OnlineView("a", a, Seq("k"), "ts", Seq("v"))), t(60))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(vals(1L) == Some(1.5) && vals(2L) == None && vals(3L) == Some(3.0))
  }

  test("upsertLatest: stale rows lose, new keys insert, snapshots time-travel") {
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_spec")
    val table = graft.table.SnapshotTable(s"$root/online")
    // batch 1: keys 1, 2
    Materialize.upsertLatestBucketed(table,
      Seq((1L, t(10), 1.0), (1L, t(20), 1.2), (2L, t(15), 2.0))
        .toDF("k", "ts", "v"), Seq("k"), "ts")
    assert(rows(table.read(spark)) ==
      Map(1L -> ((t(20).getTime, 1.2)), 2L -> ((t(15).getTime, 2.0))))
    // batch 2: key 1 STALE (must lose), key 2 newer (must win), key 3 new
    Materialize.upsertLatestBucketed(table,
      Seq((1L, t(5), 9.9), (2L, t(30), 2.3), (3L, t(1), 3.0))
        .toDF("k", "ts", "v"), Seq("k"), "ts")
    assert(rows(table.read(spark)) ==
      Map(1L -> ((t(20).getTime, 1.2)), 2L -> ((t(30).getTime, 2.3)),
        3L -> ((t(1).getTime, 3.0))))
    // each upsert is one atomic snapshot; time travel sees the pre-state
    assert(table.history.size == 2)
    assert(rows(table.read(spark, asOf = Some(1L))) ==
      Map(1L -> ((t(20).getTime, 1.2)), 2L -> ((t(15).getTime, 2.0))))
    // compacted: exactly one stored row per key, no read-time resolution
    assert(table.currentSnapshot.get.totalRows == 3)
  }

  /** The upsert's contract, the one the q77/q85 oracles state: the latest
    * row per key over every batch upserted so far.
    */
  private def latestOver(batches: org.apache.spark.sql.DataFrame*): Map[Long, (Long, Double)] =
    rows(Materialize.latestPerKey(batches.reduce(_ unionByName _), Seq("k"), "ts"))

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
    df.collect().map(r => r.getAs[Long]("k") ->
      ((r.getAs[Timestamp]("ts").getTime, r.getAs[Double]("v")))).toMap

  test("upsertLatestBucketed: small batch rewrites only intersecting files, " +
      "carried files stay byte-identical, semantics equal latest-per-key over the batches") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_upsert_bucketed_spec")
    val table = graft.table.SnapshotTable(s"$root/bucketed")
    def sha(p: String): Seq[Byte] =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(Paths.get(p))).toSeq

    val b1 = (1L to 40L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    Materialize.upsertLatestBucketed(table, b1, Seq("k"), "ts", nBuckets = 8)
    val snap1 = table.currentSnapshot.get
    assert(snap1.files.nonEmpty && snap1.files.forall(_.bucket.isDefined))
    val before = snap1.files.map(f => f.path -> sha(f.path)).toMap

    // batch 2 touches at most two buckets: key 1 STALE (must lose) + key 41 new
    val b2 = Seq((1L, t(0), 9.9), (41L, t(41), 41.0)).toDF("k", "ts", "v")
    Materialize.upsertLatestBucketed(table, b2, Seq("k"), "ts", nBuckets = 8)
    val snap2 = table.currentSnapshot.get
    val paths1 = snap1.files.map(_.path).toSet
    val carried = snap2.files.map(_.path).toSet.intersect(paths1)
    val rewritten = snap2.files.map(_.path).toSet -- paths1
    // strict subset rewritten: ≤ 2 touched buckets out of ≥ 6 non-empty
    assert(rewritten.nonEmpty && carried.nonEmpty)
    assert(rewritten.size < snap1.files.size,
      s"rewrote ${rewritten.size} of ${snap1.files.size} files — not scoped")
    carried.foreach(p => assert(sha(p) == before(p), s"carried file mutated: $p"))
    // read-back equals latest-per-key over both batches (stale row lost)
    assert(rows(table.read(spark)) == latestOver(b1, b2))
    assert(rows(table.read(spark))(1L) == ((t(1).getTime, 1.0)))
    assert(rows(table.read(spark))(41L) == ((t(41).getTime, 41.0)))
    // time travel still works across shared-file snapshots
    assert(rows(table.read(spark, asOf = Some(1L))).keySet == (1L to 40L).toSet)
    // reference-aware expiry: snapshot 1 dies, but files it SHARES with the
    // current snapshot survive — current stays fully readable
    assert(table.expireSnapshots(keepLast = 1) == Seq(1L))
    assert(rows(table.read(spark)) == latestOver(b1, b2))
    intercept[IllegalStateException](table.read(spark, asOf = Some(1L)))

    // modulus change: bucket ids from nBuckets=8 mean nothing under
    // nBuckets=4 — the mismatch must force a full rebucketing rewrite
    // (nothing carried), keep exact semantics, and re-enable scoped
    // upserts under the new modulus
    assert(table.currentSnapshot.get.bucketModulus.contains(8))
    val preRebucket = table.currentSnapshot.get.files.map(_.path).toSet
    val b3 = Seq((2L, t(100), 2.5)).toDF("k", "ts", "v")
    Materialize.upsertLatestBucketed(table, b3, Seq("k"), "ts", nBuckets = 4)
    val snap3 = table.currentSnapshot.get
    assert(snap3.bucketModulus.contains(4))
    assert(snap3.files.map(_.path).toSet.intersect(preRebucket).isEmpty,
      "files bucketed under modulus 8 were carried past a modulus-4 upsert")
    assert(rows(table.read(spark)) == latestOver(b1, b2, b3))
    // and the next modulus-4 upsert is scoped again
    val b4 = Seq((3L, t(101), 3.5)).toDF("k", "ts", "v")
    Materialize.upsertLatestBucketed(table, b4, Seq("k"), "ts", nBuckets = 4)
    val snap4 = table.currentSnapshot.get
    assert(snap4.files.map(_.path).toSet.intersect(
      snap3.files.map(_.path).toSet).nonEmpty, "modulus-4 upsert not scoped")
    assert(rows(table.read(spark)) == latestOver(b1, b2, b3, b4))
  }

  test("expireSnapshots reclaims a shared file even after its writer snapshot expired") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_expire_shared_spec")
    val table = graft.table.SnapshotTable(s"$root/t")
    // snap1 writes files F (buckets of keys 1..32); snap2 carries most of F
    Materialize.upsertLatestBucketed(table,
      (1L to 32L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v"),
      Seq("k"), "ts", nBuckets = 8)
    val f1 = table.currentSnapshot.get.files.map(_.path).toSet
    Materialize.upsertLatestBucketed(table,
      Seq((1L, t(50), 1.5)).toDF("k", "ts", "v"), Seq("k"), "ts", nBuckets = 8)
    val carried = table.currentSnapshot.get.files.map(_.path).toSet.intersect(f1)
    assert(carried.nonEmpty)
    // expire snap1: carried files must survive (still referenced by snap2)
    assert(table.expireSnapshots(keepLast = 1) == Seq(1L))
    carried.foreach(p => assert(Files.exists(Paths.get(p)), s"live shared file deleted: $p"))
    // snap3 rewrites EVERYTHING (modulus change) — carried files become
    // unreferenced, but their writer (snap1) is long gone from the chain
    Materialize.upsertLatestBucketed(table,
      Seq((2L, t(60), 2.5)).toDF("k", "ts", "v"), Seq("k"), "ts", nBuckets = 4)
    assert(table.expireSnapshots(keepLast = 1) == Seq(2L))
    carried.foreach(p => assert(!Files.exists(Paths.get(p)),
      s"orphaned shared file leaked (writer snapshot expired earlier): $p"))
    // current stays fully readable
    assert(table.read(spark).count() == 32L)
  }

  test("bucket ids come from each file's own directory, not a bucket-like table root") {
    import java.nio.file.Files
    // the table root itself contains a `__bucket=1/` segment
    val root = Files.createTempDirectory("graft_bucket_root_spec")
    val table = graft.table.SnapshotTable(s"$root/__bucket=1/t")
    val bucketOf = pmod(xxhash64(col("k")), lit(8L)).cast("int")

    val b1 = (1L to 40L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    Materialize.upsertLatestBucketed(table, b1, Seq("k"), "ts", nBuckets = 8)
    val files = table.currentSnapshot.get.files
    // every file records the bucket its keys hash to; the buckets are all
    // those the batch occupies, not the root's `1`
    files.foreach { f =>
      val got = spark.read.parquet(f.path).select(bucketOf).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(got == f.bucket.toSeq, s"${f.path} recorded ${f.bucket}, holds $got")
    }
    assert(files.flatMap(_.bucket).toSet ==
      b1.select(bucketOf).distinct().collect().map(_.getInt(0)).toSet)

    // a following scoped upsert still equals latest-per-key over both batches
    val b2 = Seq((1L, t(0), 9.9), (41L, t(41), 41.0)).toDF("k", "ts", "v")
    Materialize.upsertLatestBucketed(table, b2, Seq("k"), "ts", nBuckets = 8)
    assert(rows(table.read(spark)) == latestOver(b1, b2))
  }

  test("a file:// URI root: commit, bucketed upsert, time travel, reference-aware expiry") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_uri_root_spec")
    val table = graft.table.SnapshotTable(s"${dir.toUri}t") // file:///tmp/.../t
    def exists(p: String) = Files.exists(Paths.get(java.net.URI.create(p)))

    val b0 = (1L to 32L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    val s1 = table.commit(b0)
    // the first bucketed upsert rewrites the unbucketed file once ...
    val s2 = Materialize.upsertLatestBucketed(table,
      Seq((2L, t(40), 2.5)).toDF("k", "ts", "v"), Seq("k"), "ts", nBuckets = 8)
    // ... the second carries every untouched bucket file forward
    val s3 = Materialize.upsertLatestBucketed(table,
      Seq((1L, t(50), 1.5)).toDF("k", "ts", "v"), Seq("k"), "ts", nBuckets = 8)
    assert((s1.files ++ s2.files ++ s3.files).forall(_.path.startsWith("file:/")))
    val expected = rows(b0) ++ Map(2L -> ((t(40).getTime, 2.5)), 1L -> ((t(50).getTime, 1.5)))
    assert(rows(table.read(spark)) == expected)
    assert(rows(table.read(spark, asOf = Some(s1.snapshotId))) == rows(b0))

    val live = s3.files.map(_.path).toSet
    val carried = live.intersect(s2.files.map(_.path).toSet)
    val dead = (s1.files ++ s2.files).map(_.path).toSet -- live
    assert(carried.nonEmpty && dead.nonEmpty)
    assert(table.expireSnapshots(keepLast = 1) == Seq(s2.snapshotId, s1.snapshotId))
    live.foreach(p => assert(exists(p), s"live file deleted: $p"))
    dead.foreach(p => assert(!exists(p), s"dead file kept: $p"))
    assert(!Files.exists(dir.resolve(f"t/data/${s1.snapshotId}%09d")))
    assert(rows(table.read(spark)) == expected)
    assert(table.history.map(_.snapshotId) == Seq(s3.snapshotId))
  }

  test("upsertLatestBucketed jobs per call: an empty table and a bucket-scoped rewrite") {
    // fence on the write path's driver round trips: the touched-bucket
    // collect, the merge-and-write, and the commit's own jobs
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_jobs")
    val table = graft.table.SnapshotTable(s"$root/t")
    val b1 = (1L to 40L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    val b2 = Seq((1L, t(0), 9.9), (41L, t(41), 41.0)).toDF("k", "ts", "v")
    val (_, first) = jobsDuring(Materialize.upsertLatestBucketed(table, b1, Seq("k"), "ts", nBuckets = 8))
    val (_, second) = jobsDuring(Materialize.upsertLatestBucketed(table, b2, Seq("k"), "ts", nBuckets = 8))
    assert((first, second) == (5, 5))
  }

  test("upsertLatestBucketed without a bucket count: a small table is one file, a stored modulus stays") {
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_derived")
    val b1 = (1L to 40L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    val b2 = Seq((1L, t(0), 9.9), (41L, t(41), 41.0)).toDF("k", "ts", "v")
    val small = graft.table.SnapshotTable(s"$root/small")
    val snaps = Seq(b1, b2).map(Materialize.upsertLatestBucketed(small, _, Seq("k"), "ts"))
    assert(snaps.map(s => (s.files.size, s.bucketModulus)) == Seq((1, Some(1)), (1, Some(1))))
    assert(rows(small.read(spark)) == rows(Materialize.latestPerKey(b1.union(b2), Seq("k"), "ts")))

    // a table written at 8 buckets keeps them: no rebucketing rewrite
    val kept = graft.table.SnapshotTable(s"$root/kept")
    val s1 = Materialize.upsertLatestBucketed(kept, b1, Seq("k"), "ts", nBuckets = 8)
    val s2 = Materialize.upsertLatestBucketed(kept, b2, Seq("k"), "ts")
    assert(s2.bucketModulus == Some(8))
    assert(s2.files.count(s1.files.contains) >= s1.files.size - 2, "untouched buckets carried")

    // the count doubles past 128 MB of stored bytes per bucket
    def stored(mb: Long, modulus: Option[Int]) = Some(graft.table.Snapshot(1L, None,
      Seq(graft.table.FileStat("f", 1L, mb << 20)), bucketModulus = modulus))
    assert(Materialize.derivedBuckets(None) == 1)
    assert(Seq(128L, 129L, 300L, 1024L).map(mb => Materialize.derivedBuckets(stored(mb, None))) ==
      Seq(1, 2, 4, 8))
    assert(Materialize.derivedBuckets(stored(300L, Some(16))) == 16)
  }

  test("lookupLatest jobs per call: none to plan, a fixed count to collect") {
    val history = (1L to 200L).map(k => (k % 50, t(k), k * 1.0)).toDF("k", "ts", "v")
    val keys = (0L until 60L).toDF("k")
    val (looked, planJobs) = jobsDuring(Materialize.lookupLatest(history, keys, Seq("k"), "ts", "v",
      asOf = t(150), ttlSeconds = Some(3600L)))
    val (_, collectJobs) = jobsDuring(looked.collect())
    assert((planJobs, collectJobs) == (0, 3))
  }
}
