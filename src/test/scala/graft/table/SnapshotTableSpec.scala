package graft.table

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.ConcurrentModificationException
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.materialize.Materialize

/** The local filesystem under the `racefs` scheme, with one hook: the first
  * listing of a `meta` dir after [[RaceFileSystem.arm]] runs the armed
  * action after it has read the directory and returns what it read, so the
  * lister proceeds on a snapshot that another writer has already
  * superseded. Renames refuse an existing destination, the HDFS semantics
  * the table's publish relies on (a raw local rename overwrites).
  */
class RaceFileSystem extends LocalFileSystem(new RawLocalFileSystem {
      override def getUri: URI = RaceFileSystem.Uri
    }) {
  override def getScheme: String = "racefs"
  override def rename(src: Path, dst: Path): Boolean = !exists(dst) && super.rename(src, dst)
  override def listStatus(p: Path): Array[FileStatus] = {
    val seen = super.listStatus(p)
    if (p.getName == "meta") RaceFileSystem.armed.getAndSet(None).foreach(_())
    seen
  }
}

object RaceFileSystem {
  val Uri: URI = URI.create("racefs:///")
  private val armed = new AtomicReference[Option[() => Unit]](None)
  def arm(action: => Unit): Unit = armed.set(Some(() => action))
}

/** Publish protocol under forced interleavings: two writers stage the same
  * snapshot id and the second rename onto `meta/snap-<id>.json` must lose;
  * a read-modify-write commit whose snapshot was superseded while it ran
  * must fail instead of publishing on top.
  */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def names(dir: java.nio.file.Path): Seq[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq.sorted

  test("two writers on one id: exactly one publishes, the loser removes only its own attempt") {
    val root = Files.createTempDirectory("graft_publish_race").toString
    val base = SnapshotTable(root).commit(Seq((0L, "base")).toDF("k", "v"))
    val writerA = SnapshotTable(root)
    val a = writerA.stageCommit(Seq((1L, "a")).toDF("k", "v"), numFiles = 0)
    val b = SnapshotTable(root).commit(Seq((2L, "b"), (3L, "b")).toDF("k", "v"))
    assert(a.snapshot.snapshotId == b.snapshotId && a.snapshot.parentId == b.parentId)

    intercept[ConcurrentModificationException](writerA.publish(a))

    val meta = Paths.get(root, "meta")
    assert(names(meta).filter(_.startsWith("snap-")) ==
      Seq("snap-000000001.json", "snap-000000002.json"))
    assert(!names(meta).exists(_.contains(".tmp")), "loser's staged manifest left behind")
    assert(writerA.currentSnapshot.contains(b))
    // only A's attempt dir is gone; B's sits alone under data/<id>/
    assert(!Files.exists(Paths.get(a.attemptDir.toString)))
    val idDir = Paths.get(root, "data", f"${b.snapshotId}%09d")
    assert(names(idDir).filterNot(_.startsWith(".")).size == 1)
    (base.files ++ b.files).foreach { f =>
      assert(spark.read.parquet(f.path).count() == f.rows, s"winner file unreadable: ${f.path}")
    }
    assert(writerA.read(spark).as[(Long, String)].collect().toSet == Set((2L, "b"), (3L, "b")))
    assert(writerA.history.map(_.snapshotId) == Seq(2L, 1L))
  }

  test("file stats: footer rows equal a scan of the file, bytes its length, plain and bucketed") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val table = SnapshotTable(Files.createTempDirectory("graft_file_stats").toString)
    val df = spark.range(0, 500).select(col("id").as("k"), (col("id") % 7).as("v"))
    val plain = table.commit(df, numFiles = 3)
    val bucketed = table.commitBucketed(
      df.withColumn("b", pmod(col("k"), lit(5L)).cast("int")), "b", modulus = 5)
    assert(plain.files.size == 3 && bucketed.files.size == 5)
    (plain.files ++ bucketed.files).foreach { f =>
      assert(spark.read.parquet(f.path).count() == f.rows, f.path)
      assert(Files.size(Paths.get(f.path)) == f.bytes, f.path)
    }
    assert(plain.totalRows == 500 && bucketed.totalRows == 500)
  }

  /** Seeds snapshot 1, then runs `op` on the table while a second writer
    * publishes snapshot 2 (through `concurrent`) right after `op` has listed
    * the table's snapshots. `op` must fail, and snapshot 2 must stay current
    * with its rows, its files, and nothing left behind by the loser.
    */
  private def assertNoLostUpdate(name: String)(seed: SnapshotTable => Unit)(
      concurrent: SnapshotTable => Unit)(op: SnapshotTable => Unit): Unit = {
    spark.sparkContext.hadoopConfiguration.set("fs.racefs.impl", classOf[RaceFileSystem].getName)
    FileSystem.get(RaceFileSystem.Uri, spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory(name)
    val table = SnapshotTable(s"racefs://$dir")
    seed(table)
    RaceFileSystem.arm(concurrent(SnapshotTable(s"racefs://$dir")))
    intercept[ConcurrentModificationException](op(table))

    val other = SnapshotTable(s"racefs://$dir")
    val current = other.currentSnapshot.get
    assert(current.snapshotId == 2L && current.parentId.contains(1L))
    assert(names(dir.resolve("meta")).filter(_.startsWith("snap-")) ==
      Seq("snap-000000001.json", "snap-000000002.json"))
    assert(!names(dir.resolve("meta")).exists(_.contains(".tmp")), "loser's staged manifest left behind")
    current.files.foreach { f =>
      assert(spark.read.parquet(f.path).count() == f.rows, s"winner file unreadable: ${f.path}")
    }
  }

  private def kv(rows: (Long, Long, String)*): DataFrame = rows.toDF("k", "ts", "v")
  private def rowsOf(t: SnapshotTable): Set[(Long, Long, String)] =
    t.read(spark).select("k", "ts", "v").as[(Long, Long, String)].collect().toSet

  test("upsertLatest on a superseded snapshot fails; the other writer's snapshot survives") {
    var root: SnapshotTable = null
    assertNoLostUpdate("graft_lost_upsert") { t =>
      root = t
      Materialize.upsertLatest(t, kv((1L, 10L, "a"), (2L, 10L, "a")), Seq("k"), "ts")
    } { other =>
      Materialize.upsertLatest(other, kv((3L, 20L, "b")), Seq("k"), "ts")
    } { t =>
      Materialize.upsertLatest(t, kv((2L, 30L, "c")), Seq("k"), "ts")
    }
    assert(rowsOf(root) == Set((1L, 10L, "a"), (2L, 10L, "a"), (3L, 20L, "b")))
  }

  test("upsertLatestBucketed on a superseded snapshot fails; carried files are not republished") {
    var root: SnapshotTable = null
    def upsert(t: SnapshotTable, batch: DataFrame) =
      Materialize.upsertLatestBucketed(t, batch, Seq("k"), "ts", nBuckets = 4)
    assertNoLostUpdate("graft_lost_bucketed") { t =>
      root = t
      upsert(t, kv((1L to 8L).map(k => (k, 10L, "a")): _*))
    } { other =>
      upsert(other, kv((9L, 20L, "b")))
    } { t =>
      upsert(t, kv((1L, 30L, "c")))
    }
    assert(rowsOf(root) == (1L to 8L).map(k => (k, 10L, "a")).toSet + ((9L, 20L, "b")))
  }

  test("compact on a superseded snapshot fails; the other writer's snapshot survives") {
    var root: SnapshotTable = null
    assertNoLostUpdate("graft_lost_compact") { t =>
      root = t
      t.commit(kv((1L, 10L, "a"), (2L, 10L, "a")), numFiles = 2)
    } { other =>
      other.commit(kv((1L, 10L, "a"), (2L, 10L, "a"), (3L, 20L, "b")))
    } { t =>
      t.compact(spark)
    }
    assert(rowsOf(root) == Set((1L, 10L, "a"), (2L, 10L, "a"), (3L, 20L, "b")))
  }
}
