package graft.materialize

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

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
    // snapshot 2's attempt dir holds exactly its manifest's new files: an
    // empty bucket 0's zero-row part file does not stay behind
    val attempts = Files.list(Paths.get(s"$root/bucketed/data/000000002")).iterator.asScala.toSeq
    assert(attempts.size == 1)
    val written = Files.list(attempts.head).iterator.asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSet
    assert(written == rewritten, s"attempt dir holds ${written -- rewritten} beyond the manifest")
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
    assert(table.currentSnapshot.get.hashBuckets.contains(8))
    val preRebucket = table.currentSnapshot.get.files.map(_.path).toSet
    val b3 = Seq((2L, t(100), 2.5)).toDF("k", "ts", "v")
    Materialize.upsertLatestBucketed(table, b3, Seq("k"), "ts", nBuckets = 4)
    val snap3 = table.currentSnapshot.get
    assert(snap3.hashBuckets.contains(4))
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

  // the bucket function the upsert documents, for the long key `k`: the
  // index of the partition that Spark's hash exchange on (k, n) into n
  // partitions gives a row
  private def bucketOf(n: Int) = pmod(hash(col("k"), lit(n)), lit(n))

  /** Every file of `table`'s current snapshot holds only the bucket it records. */
  private def assertOwnBuckets(table: graft.table.SnapshotTable, n: Int): Unit =
    table.currentSnapshot.get.files.foreach { f =>
      val got = spark.read.parquet(f.path).select(bucketOf(n)).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(got == f.bucket.toSeq, s"${f.path} recorded ${f.bucket}, holds $got")
    }

  test("every file holds only its recorded bucket, also under a bucket- or part-named root") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_bucket_root_spec")
    val b1 = (1L to 40L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    val b2 = Seq((1L, t(0), 9.9), (41L, t(41), 41.0)).toDF("k", "ts", "v")
    // the table root itself contains a `__bucket=1/` or a `part-00001-` segment
    Seq("__bucket=1/t", "part-00001-x/t").foreach { sub =>
      val table = graft.table.SnapshotTable(s"$root/$sub")
      Materialize.upsertLatestBucketed(table, b1, Seq("k"), "ts", nBuckets = 8)
      assertOwnBuckets(table, 8)
      // the buckets are all those the batch occupies, one file each
      val files = table.currentSnapshot.get.files
      assert(files.flatMap(_.bucket).sorted ==
        b1.select(bucketOf(8)).distinct().collect().map(_.getInt(0)).toSeq.sorted)
      // a following scoped upsert still equals latest-per-key over both batches
      Materialize.upsertLatestBucketed(table, b2, Seq("k"), "ts", nBuckets = 8)
      assertOwnBuckets(table, 8)
      assert(rows(table.read(spark)) == latestOver(b1, b2))
    }
  }

  test("buckets stay whole when the shuffle partitions equal the bucket count, AQE coalescing on") {
    // the merge's aggregate exchange is then HashPartitioning(k, 16) too: a
    // keys-only bucket exchange would be dropped as redundant, and AQE would
    // coalesce the aggregate's 16 small partitions into one write task
    val settings = Map("spark.sql.shuffle.partitions" -> "16", "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true")
    val saved = settings.keys.map(k => k -> spark.conf.getOption(k))
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val table = graft.table.SnapshotTable(
        java.nio.file.Files.createTempDirectory("graft_bucket_aqe_spec").resolve("t").toString)
      val b1 = (1L to 700L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
      val b2 = (650L to 750L).map(k => (k, t(k + 1), k * 2.0)).toDF("k", "ts", "v")
      Seq(b1, b2).foreach { b =>
        Materialize.upsertLatestBucketed(table, b, Seq("k"), "ts", nBuckets = 16)
        assertOwnBuckets(table, 16)
      }
      assert(table.currentSnapshot.get.files.flatMap(_.bucket).sorted == (0 until 16))
      assert(rows(table.read(spark)) == latestOver(b1, b2))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a key of a case-insensitive collation: each batch touches the buckets its keys land in") {
    val table = graft.table.SnapshotTable(
      java.nio.file.Files.createTempDirectory("graft_bucket_collation_spec").resolve("t").toString)
    def batch(name: Long => String, min: Long, v: Double, ks: Seq[Long]) =
      ks.map(k => (name(k), t(min), v)).toDF("k", "ts", "v")
        .selectExpr("k COLLATE UTF8_LCASE AS k", "ts", "v")
    // later batches name keys 1..5 in upper case, one key each, with newer
    // rows: under the collation they are the stored keys, not new ones
    Materialize.upsertLatestBucketed(table, batch(k => s"Key_$k", 1, 1.0, 1L to 40L), Seq("k"), "ts",
      nBuckets = 8)
    (1L to 5L).foreach(k =>
      Materialize.upsertLatestBucketed(table, batch(k => s"KEY_$k", 2, 2.0, Seq(k)), Seq("k"), "ts",
        nBuckets = 8))
    val got = table.read(spark).collect().map(r => r.getString(0).toLowerCase -> r.getDouble(2))
    assert(got.length == 40, s"${got.length} rows for 40 keys")
    assert(got.toMap == (1L to 40L).map(k => s"key_$k" -> (if (k <= 5) 2.0 else 1.0)).toMap)
  }

  test("the upsert's write: one REPARTITION_BY_NUM exchange into the bucket count, no Sort after it") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import graft.PlanShape
    val table = graft.table.SnapshotTable(
      java.nio.file.Files.createTempDirectory("graft_bucket_plan_spec").resolve("t").toString)
    val b1 = (1L to 40L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    val (_, plans) = PlanShape.executedPlans(spark)(
      Materialize.upsertLatestBucketed(table, b1, Seq("k"), "ts", nBuckets = 8))
    val Seq(write) = PlanShape.writes(plans)
    val bucketExchanges = PlanShape.collect(write) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    assert(bucketExchanges.map(_.outputPartitioning.numPartitions) == Seq(8))
    def sorts(p: SparkPlan) = PlanShape.collect(p) { case s: SortExec => s }.size
    assert(sorts(write) == sorts(bucketExchanges.head), "a Sort between the bucket exchange and the write")
  }

  test("a table in the xxhash64 `__bucket=` layout is rewritten whole by the next upsert") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_legacy_bucket_spec")
    // the earlier layout: xxhash64 buckets as `__bucket=<b>/` dirs under the
    // attempt dir, each file's bucket and the modulus in the manifest
    val old = (1L to 40L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    val attempt = root.resolve("t/data/000000001/a")
    old.withColumn("__bucket", pmod(xxhash64(col("k")), lit(8L)).cast("int"))
      .repartition(col("__bucket")).write.partitionBy("__bucket").parquet(attempt.toString)
    val legacy = Files.walk(attempt).iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
    val stats = legacy.map { p =>
      val bucket = p.getParent.getFileName.toString.stripPrefix("__bucket=")
      s"""{"path":"$p","rows":${spark.read.parquet(p.toString).count()},""" +
        s""""bytes":${Files.size(p)},"bucket":$bucket}"""
    }
    Files.createDirectories(root.resolve("t/meta"))
    Files.writeString(root.resolve("t/meta/snap-000000001.json"),
      s"""{"snapshotId":1,"parentId":null,"bucketModulus":8,"files":[${stats.mkString(",")}]}""")

    val table = graft.table.SnapshotTable(root.resolve("t").toString)
    assert(table.currentSnapshot.get.hashBuckets.isEmpty)
    val b2 = Seq((1L, t(0), 9.9), (41L, t(41), 41.0)).toDF("k", "ts", "v")
    val s2 = Materialize.upsertLatestBucketed(table, b2, Seq("k"), "ts", nBuckets = 8)
    assert(s2.hashBuckets.contains(8))
    assert(s2.files.map(f => Paths.get(f.path)).intersect(legacy).isEmpty, "a legacy file was carried")
    assertOwnBuckets(table, 8)
    assert(rows(table.read(spark)) == latestOver(old, b2))
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
    // collect (one stage), then the aggregate's and the bucket exchange's
    // map stages and the write
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_jobs")
    val table = graft.table.SnapshotTable(s"$root/t")
    val b1 = (1L to 40L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    val b2 = Seq((1L, t(0), 9.9), (41L, t(41), 41.0)).toDF("k", "ts", "v")
    val (_, first) = jobsDuring(Materialize.upsertLatestBucketed(table, b1, Seq("k"), "ts", nBuckets = 8))
    val (_, second) = jobsDuring(Materialize.upsertLatestBucketed(table, b2, Seq("k"), "ts", nBuckets = 8))
    assert((first, second) == (4, 4))
  }

  test("upsertLatestBucketed without a bucket count: a small table is one file, a stored modulus stays") {
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_derived")
    val b1 = (1L to 40L).map(k => (k, t(k), k * 1.0)).toDF("k", "ts", "v")
    val b2 = Seq((1L, t(0), 9.9), (41L, t(41), 41.0)).toDF("k", "ts", "v")
    val small = graft.table.SnapshotTable(s"$root/small")
    val snaps = Seq(b1, b2).map(Materialize.upsertLatestBucketed(small, _, Seq("k"), "ts"))
    assert(snaps.map(s => (s.files.size, s.hashBuckets)) == Seq((1, Some(1)), (1, Some(1))))
    assert(rows(small.read(spark)) == rows(Materialize.latestPerKey(b1.union(b2), Seq("k"), "ts")))

    // a table written at 8 buckets keeps them: no rebucketing rewrite
    val kept = graft.table.SnapshotTable(s"$root/kept")
    val s1 = Materialize.upsertLatestBucketed(kept, b1, Seq("k"), "ts", nBuckets = 8)
    val s2 = Materialize.upsertLatestBucketed(kept, b2, Seq("k"), "ts")
    assert(s2.hashBuckets == Some(8))
    assert(s2.files.count(s1.files.contains) >= s1.files.size - 2, "untouched buckets carried")

    // the count doubles past 128 MB of stored bytes per bucket
    def stored(mb: Long, modulus: Option[Int]) = Some(graft.table.Snapshot(1L, None,
      Seq(graft.table.FileStat("f", 1L, mb << 20)), hashBuckets = modulus))
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
