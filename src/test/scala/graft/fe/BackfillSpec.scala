package graft.fe

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.fixtures.TokenSeq
import graft.table.{FileStat, Interval, SnapshotTable}

/** Resumable backfill + snapshot-table semantics: interval grid, crash/resume
  * (completed intervals are skipped on re-run), per-partition lineage metrics,
  * snapshot isolation and time travel — the Spark re-expression of the
  * reference's materialization_intervals resume log (registry.py:208-246,
  * feature_store.py:343-422).
  */
class BackfillSpec extends SparkSpec {

  private def t(sec: Long): Timestamp = new Timestamp((TokenSeq.AnchorEpoch + sec) * 1000L)

  private def freshDir(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toString
  }

  test("grid splits [start, end) into aligned intervals, last one clamped") {
    val g = Backfill.grid(t(0), t(3600 * 5 + 100), 3600)
    assert(g.size == 6)
    assert(g.head == (t(0), t(3600)))
    assert(g.last == (t(3600 * 5), t(3600 * 5 + 100)))
  }

  test("backfill materializes latest-per-key per interval with lineage metrics") {
    val root = freshDir("snap")
    val src = TokenSeq.generate(spark, n = 9000, entities = 30)
    val table = SnapshotTable(root)

    val metrics = Backfill.run(spark, src, Seq("doc_id"), "event_timestamp",
      Some("created_timestamp"), t(0), t(4 * 3600), 3600, table)

    assert(metrics.size == 4)
    assert(metrics.forall(_.rows > 0))
    assert(metrics.forall(_.bytes > 0))
    assert(metrics.forall(_.partitions.nonEmpty), "per-partition lineage missing")
    // per-partition counts roll up to the interval row count
    metrics.foreach(m => assert(m.partitions.map(_._2).sum == m.rows))
    // snapshots chain: 4 commits, history newest-first
    val hist = table.history
    assert(hist.size == 4)
    assert(hist.map(_.snapshotId) == Seq(4L, 3L, 2L, 1L))
    assert(hist.head.parentId.contains(3L))
  }

  test("lineage comes from the committed files: one write job per interval, no cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.PlanShape
    val root = freshDir("snap_lineage")
    val src = TokenSeq.generate(spark, n = 9000, entities = 30)
    val table = SnapshotTable(root)

    // the first interval ends where the source's first row is: it is empty
    val (metrics, plans) = PlanShape.executedPlans(spark) {
      Backfill.run(spark, src, Seq("doc_id"), "event_timestamp",
        Some("created_timestamp"), t(-3600), t(3 * 3600), 3600, table)
    }
    assert(metrics.size == 4)
    assert(metrics.head.rows == 0 && metrics.head.partitions.isEmpty)
    assert(metrics.tail.forall(m => m.rows > 0 && m.partitions.nonEmpty))
    val partIndex = """part-(\d+)-.*""".r
    metrics.foreach { m =>
      // per write task: the rows a scan finds in its files
      val byTask = table.snapshot(m.snapshotId).get.files
        .map(f => Paths.get(f.path).getFileName.toString match {
          case partIndex(i) => (i.toInt, spark.read.parquet(f.path).count())
        })
        .filter(_._2 > 0).groupMapReduce(_._1)(_._2)(_ + _)
      assert(m.partitions == byTask.toSeq.sortBy(_._1))
      assert(m.partitions.map(_._2).sum == m.rows)
      assert(table.read(spark, asOf = Some(m.snapshotId)).count() == m.rows)
    }
    val (queries, writes) = (plans.size, PlanShape.writes(plans).size)
    assert(queries == metrics.size && writes == metrics.size,
      s"expected one write job per interval, ran $queries queries ($writes writes)")
    val cacheScans = plans.map(PlanShape.collect(_) { case s: InMemoryTableScanExec => s }.size).sum
    assert(cacheScans == 0, "a backfill query read a cached relation")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }

  test("resume skips completed intervals and completes the remainder") {
    val root = freshDir("snap2")
    val src = TokenSeq.generate(spark, n = 9000, entities = 30)
    val table = SnapshotTable(root)

    // first run: only the first 2 intervals (simulated partial run / crash)
    val first = Backfill.run(spark, src, Seq("doc_id"), "event_timestamp",
      Some("created_timestamp"), t(0), t(2 * 3600), 3600, table)
    assert(first.size == 2)

    // resume over the FULL range: the 2 done intervals are skipped
    val resumed = Backfill.run(spark, src, Seq("doc_id"), "event_timestamp",
      Some("created_timestamp"), t(0), t(4 * 3600), 3600, table)
    assert(resumed.size == 2, "resume must only execute the missing intervals")
    assert(resumed.map(_.intervalId).toSet.intersect(first.map(_.intervalId).toSet).isEmpty)

    // idempotent: a third run over the same range executes nothing
    val third = Backfill.run(spark, src, Seq("doc_id"), "event_timestamp",
      Some("created_timestamp"), t(0), t(4 * 3600), 3600, table)
    assert(third.isEmpty)
    assert(table.history.size == 4)
  }

  test("crash after a publish: the resume commits only the unpublished intervals") {
    val root = freshDir("snap3")
    val src = TokenSeq.generate(spark, n = 3000, entities = 10)
    val table = SnapshotTable(root)

    // interval 1 is published (its commit records it in the manifest), then
    // the process dies before the run returns
    table.commit(
      graft.materialize.Materialize.pullLatest(
        src, Seq("doc_id"), "event_timestamp", Some("created_timestamp"), t(0), t(3600)),
      completes = Some(Interval(t(0).getTime, t(3600).getTime)))
    assert(table.history.size == 1)

    // the resume must NOT re-commit interval 1: it executes only interval 2
    val resumed = Backfill.run(spark, src, Seq("doc_id"), "event_timestamp",
      Some("created_timestamp"), t(0), t(2 * 3600), 3600, table)
    assert(resumed.map(_.intervalId) == Seq(s"${t(3600).toInstant}_${t(2 * 3600).toInstant}"))
    assert(table.history.size == 2, "the published interval was re-committed as a duplicate snapshot")
    // and the next run is fully idempotent
    assert(Backfill.run(spark, src, Seq("doc_id"), "event_timestamp",
      Some("created_timestamp"), t(0), t(2 * 3600), 3600, table).isEmpty)
    assert(table.history.size == 2)
  }

  test("a crash BEFORE publish leaves an orphan data dir; the retry commit clears it") {
    import graft.materialize.Materialize
    val root = freshDir("snap4")
    val table = SnapshotTable(root)
    val src = TokenSeq.generate(spark, n = 1000, entities = 5)
    // simulate a writer that died mid-parquet-write: data/000000001/ exists
    // with a partial file but no manifest was ever published
    val orphan = Paths.get(root, "data", "000000001")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-00000.snappy.parquet"), Array[Byte](1, 2, 3))
    // without orphan clearing this dies forever on mode("errorifexists")
    val snap = table.commit(
      Materialize.pullLatest(src, Seq("doc_id"), "event_timestamp",
        Some("created_timestamp"), t(0), t(3600)))
    assert(snap.snapshotId == 1L && table.read(spark).count() > 0)
  }

  test("snapshot table: time travel reads exactly the as-of snapshot's rows") {
    val root = freshDir("snap3")
    val table = SnapshotTable(root)
    import spark.implicits._
    val s1 = table.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val s2 = table.commit(Seq((3, "c")).toDF("id", "v"))
    assert(table.currentSnapshotId.contains(s2.snapshotId))
    assert(table.read(spark, asOf = Some(s1.snapshotId)).count() == 2)
    assert(table.read(spark).count() == 1)
    // manifest stats come from parquet footers, no scan
    assert(s1.totalRows == 2 && s2.totalRows == 1)
    assert(s1.totalBytes > 0)
  }

  test("reader ignores files not in the manifest (crash-safe isolation)") {
    val root = freshDir("snap4")
    val table = SnapshotTable(root)
    import spark.implicits._
    table.commit(Seq((1, "a")).toDF("id", "v"))
    // simulate a crashed writer: orphan parquet in a data dir with no manifest
    Seq((99, "zz")).toDF("id", "v").write
      .parquet(Paths.get(root, "data", "000000099").toString)
    assert(table.read(spark).count() == 1, "orphan files must be invisible")
  }

  test("compact rewrites many small files into few; expire drops old data") {
    val root = freshDir("snap5")
    val table = SnapshotTable(root)
    import spark.implicits._
    // a fragmented commit: 8 tiny files
    val s1 = table.commit((1 to 80).map(i => (i, s"v$i")).toDF("id", "v"), numFiles = 8)
    assert(s1.files.size == 8)
    val rows = table.read(spark).collect().map(_.toString).sorted.toSeq
    val s2 = table.compact(spark, targetBytes = Long.MaxValue) // -> 1 file
    assert(s2.files.size == 1)
    assert(table.read(spark).collect().map(_.toString).sorted.toSeq == rows)
    assert(table.read(spark, asOf = Some(s1.snapshotId)).count() == 80) // still travelable
    // retention: keep only the compacted snapshot
    val expired = table.expireSnapshots(keepLast = 1)
    assert(expired == Seq(s1.snapshotId))
    assert(table.read(spark).collect().map(_.toString).sorted.toSeq == rows)
    // expired id now FAILS (never silently reads current)
    intercept[IllegalStateException] {
      table.read(spark, asOf = Some(s1.snapshotId))
    }
    // the expired snapshot's immutable data dir is physically gone
    assert(!Files.exists(Paths.get(root, "data", f"${s1.snapshotId}%09d")))
    assert(table.history.map(_.snapshotId) == Seq(s2.snapshotId))
  }

  test("round-5 manifests load: history walks them and parent ids are Longs") {
    import spark.implicits._
    val root = freshDir("snap_r5")
    // round-5 layout: parquet straight under data/<id>/, a CURRENT pointer,
    // manifests written by the hand-rolled codec
    def part(id: Int, df: org.apache.spark.sql.DataFrame): (String, Long) = {
      val dir = Paths.get(root, "data", f"$id%09d")
      df.coalesce(1).write.parquet(dir.toString)
      val p = Files.list(dir).iterator.asScala.find(_.toString.endsWith(".parquet")).get
      (p.toString, Files.size(p))
    }
    val (p1, b1) = part(1, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val (p2, b2) = part(2, Seq((3L, "c")).toDF("k", "v"))
    val meta = Files.createDirectories(Paths.get(root, "meta"))
    Files.writeString(meta.resolve("snap-000000001.json"),
      s"""{"snapshotId":1,"parentId":null,"watermark":"a\\"b","files":""" +
        s"""[{"path":"$p1","rows":2,"bytes":$b1}]}""")
    Files.writeString(meta.resolve("snap-000000002.json"),
      s"""{"snapshotId":2,"parentId":1,"watermark":null,"bucketModulus":8,"files":""" +
        s"""[{"path":"$p2","rows":1,"bytes":$b2,"bucket":3}]}""")
    Files.writeString(meta.resolve("CURRENT"), "2")

    val table = SnapshotTable(root)
    val hist = table.history
    assert(hist.map(_.snapshotId) == Seq(2L, 1L))
    assert(hist.head.parentId.get + 1L == 2L)
    assert(hist.last.parentId.isEmpty)
    // their intervals were kept outside the manifest: none are recorded
    assert(hist.forall(_.intervals == Nil))
    assert(hist.head.files == Seq(FileStat(p2, 1L, b2, Some(3))))
    // its modulus counted xxhash64 buckets, not hash partitions: not read back
    assert(hist.forall(_.hashBuckets.isEmpty))
    assert(hist.last.files == Seq(FileStat(p1, 2L, b1)))
    assert(table.read(spark).count() == 1 && table.read(spark, asOf = Some(1L)).count() == 2)
    // the next commit chains onto the loaded snapshots
    val s3 = table.commit(Seq((4L, "d")).toDF("k", "v"))
    assert(s3.snapshotId == 3L && s3.parentId.get + 1L == 3L)
    assert(table.history.map(_.snapshotId) == Seq(3L, 2L, 1L))
  }
}
