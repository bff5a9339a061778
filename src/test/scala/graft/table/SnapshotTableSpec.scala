package graft.table

import java.nio.file.{Files, Paths}
import java.util.ConcurrentModificationException

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Publish protocol under a forced interleaving: two writers stage the same
  * snapshot id; the second rename onto `meta/snap-<id>.json` must lose.
  */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def names(dir: java.nio.file.Path): Seq[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq.sorted

  test("two writers on one id: exactly one publishes, the loser removes only its own attempt") {
    val root = Files.createTempDirectory("graft_publish_race").toString
    val base = SnapshotTable(root).commit(Seq((0L, "base")).toDF("k", "v"))
    val writerA = SnapshotTable(root)
    val a = writerA.stageCommit(Seq((1L, "a")).toDF("k", "v"), numFiles = 0, watermark = None)
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
}
