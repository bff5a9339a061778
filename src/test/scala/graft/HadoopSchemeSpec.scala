package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

import graft.materialize.Materialize
import graft.model._
import graft.model.RegistryProtoSpec._
import graft.table.{Interval, SnapshotTable}

/** The local disk under its own `noappend` scheme, with no checksum layer
  * and an `append` that throws, as on an object store. Registered through
  * `META-INF/services/org.apache.hadoop.fs.FileSystem` on the test
  * classpath, so every Hadoop `Configuration` of the forked test JVM
  * resolves the scheme.
  */
class NoAppendFileSystem extends RawLocalFileSystem {
  override def getUri: URI = NoAppendFileSystem.Uri
  override def getScheme: String = "noappend"
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException(s"$f: the noappend scheme has no append")
}

object NoAppendFileSystem {
  val Uri: URI = URI.create("noappend:///")
}

/** A registry, its view's table and every storage operation on a
  * non-`file` Hadoop scheme: the materialization intervals live in the
  * table's manifest, so nothing needs a local file or an append.
  */
class HadoopSchemeSpec extends SparkSpec {
  import spark.implicits._

  private def t(hour: Long) = new Timestamp(1618185600000L + hour * 3600000L) // 2021-04-12

  test("a non-file scheme with no append keeps intervals from apply through teardown") {
    val local = Files.createTempDirectory("graft_noappend").toString
    val dir = s"noappend://$local"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NoAppendFileSystem])
    intercept[UnsupportedOperationException](fs.append(new Path(s"$dir/x")))

    (0 until 72).map(h => (1L + h % 2, t(h), t(h), h.toDouble))
      .toDF("driver_id", "event_timestamp", "created", "rate")
      .write.parquet(s"$dir/src.parquet")
    val registry = s"$dir/registry"
    val reg = new Registry(spark, registry)
    reg.apply(Seq(FeatureView("driver_stats",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("rate", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")))))
    val table = SnapshotTable(reg.tablePath("driver_stats"))
    assert(table.root == s"noappend:$local/table_driver_stats")

    // day 1, then days 1-2: the second run resumes after day 1
    Main.run(spark, List("materialize", registry, "driver_stats",
      "2021-04-12T00:00:00Z", "2021-04-13T00:00:00Z"))
    Main.run(spark, List("materialize", registry, "driver_stats",
      "2021-04-12T00:00:00Z", "2021-04-14T00:00:00Z"))
    assert(table.history.size == 2, "the resume re-ran day 1")
    val days = Seq(Interval(t(0).getTime, t(48).getTime))
    assert(table.currentSnapshot.get.intervals == days)

    Materialize.upsertLatestBucketed(table,
      Seq((1L, t(50), t(50), -1.0)).toDF("driver_id", "event_timestamp", "created", "rate"),
      Seq("driver_id"), "event_timestamp", Some("created"), nBuckets = 4)
    table.compact(spark)
    assert(table.expireSnapshots(1) == Seq(3L, 2L, 1L))
    assert(table.history.map(_.snapshotId) == Seq(4L))
    assert(table.currentSnapshot.get.intervals == days)
    assert(table.read(spark).select("driver_id", "rate").as[(Long, Double)].collect().toMap ==
      Map(1L -> -1.0, 2L -> 47.0))

    assert(reg.materializedIntervals("driver_stats") == Seq((t(0).toInstant, t(48).toInstant)))
    val out = s"$dir/registry.db"
    Main.run(spark, List("export-registry", registry, out))
    val in = fs.open(new Path(out))
    val exported = try in.readAllBytes() finally in.close()
    val meta = msg1(msgs(decode(exported), 6).head, 2)
    val interval = msg1(meta, 3)
    assert(int(msg1(interval, 1), 1) == t(0).toInstant.getEpochSecond)
    assert(int(msg1(interval, 2), 1) == t(48).toInstant.getEpochSecond)

    Main.run(spark, List("teardown", registry))
    assert(!Files.exists(Paths.get(local, "registry")))
    assert(!Files.exists(Paths.get(local, "table_driver_stats")))
    assert(Files.exists(Paths.get(local, "src.parquet"))) // nothing else goes
    assert(new Registry(spark, registry).load().isEmpty)
  }
}
