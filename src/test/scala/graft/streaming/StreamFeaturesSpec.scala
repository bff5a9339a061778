package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.fe.Windows

/** Structured Streaming counterparts vs their batch equivalents: feed a
  * bounded MemoryStream, run to completion, and assert the streaming result
  * equals the batch operator on the same rows (the offline/online
  * consistency contract of the reference's
  * test_offline_online_store_consistency.py, re-expressed for windows).
  */
case class Ev(user_id: Long, ts: Timestamp, value: Double)

/** The EXACT column set `readStream.format("kafka")` emits (Spark Kafka
  * source wire schema) — [[StreamFeaturesSpec]] drives decode through it to
  * prove the seam needs zero code when a real broker appears.
  */
case class KafkaRec(
    key: Array[Byte], value: Array[Byte], topic: String, partition: Int,
    offset: Long, timestamp: Timestamp, timestampType: Int)

class StreamFeaturesSpec extends SparkSpec {

  private def events: Seq[Ev] = {
    val base = tsOf("2024-01-01T00:00:00Z").getTime
    for {
      u <- 0L until 4L
      i <- 0 until 25
    } yield Ev(u, new Timestamp(base + (i * 97 + u * 13) * 1000L), (i % 7) + 0.5)
  }

  private def runStream(out: org.apache.spark.sql.DataFrame, name: String) = {
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("streaming tumbling equals batch tumbling") {
    import spark.implicits._
    val mem = MemoryStream[Ev](spark)
    mem.addData(events: _*)
    val streamed = runStream(
      StreamFeatures.tumbling(mem.toDF(), "user_id", "ts", "10 minutes",
        watermarkDelay = "1 hour", valueCol = "value"),
      "t_tumbling")
    val batch = Windows.tumbling(events.toDF(), Seq("user_id"), "ts", 600,
      Seq(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value")))
    val s = streamed.orderBy("user_id", "win_start").collect().toSeq
    val b = batch.orderBy("user_id", "win_start").collect().toSeq
    assert(s.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))) ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
  }

  test("streaming session_window equals batch sessionization") {
    import spark.implicits._
    val mem = MemoryStream[Ev](spark)
    mem.addData(events: _*)
    val streamed = runStream(
      StreamFeatures.sessionize(mem.toDF(), "user_id", "ts", gap = "3 minutes",
        watermarkDelay = "1 hour", valueCol = "value"),
      "t_session")
    val batch = Windows.sessionFeatures(events.toDF(), Seq("user_id"), "ts",
      gapSeconds = 180, valueCol = "value")
    // session_window end = last_ts + gap (exclusive); batch session_end =
    // last event ts. Compare on (user, start, n, sum) and check the offset.
    val s = streamed.orderBy("user_id", "session_start")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect().toSeq
    val b = batch.orderBy("user_id", "session_start")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect().toSeq
    assert(s.size == b.size)
    s.zip(b).foreach { case (sr, br) =>
      assert(sr.getLong(0) == br.getLong(0))
      assert(sr.getLong(1) == br.getLong(1), "session starts agree")
      assert(sr.getLong(2) == br.getLong(2) + 180, "stream end = batch last ts + gap")
      assert(sr.getLong(3) == br.getLong(3))
      assert(math.abs(sr.getDouble(4) - br.getDouble(4)) < 1e-6)
    }
  }

  test("encoded JSON payloads decode through StreamSource and window like typed rows") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    val source = graft.model.StreamSource(
      topic = "events", bootstrapServers = "broker:9092",
      format = graft.model.StreamFormat.Json(schema),
      eventTimestampColumn = "ts",
      fieldMapping = Map("uid" -> "user_id", "v" -> "value"))
    // Kafka wire shape: value payload strings
    val mem = MemoryStream[String](spark)
    mem.addData(events.map(e =>
      s"""{"uid":${e.user_id},"ts":"${e.ts.toInstant}","v":${e.value}}"""): _*)
    val decoded = StreamFeatures.decode(mem.toDF().select(col("value")), source)
    val streamed = runStream(
      StreamFeatures.tumbling(decoded, "user_id", "ts", "10 minutes",
        watermarkDelay = "1 hour", valueCol = "value"),
      "t_decoded")
    val batch = Windows.tumbling(events.toDF(), Seq("user_id"), "ts", 600,
      Seq(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value")))
    val s = streamed.orderBy("user_id", "win_start").collect().toSeq
    val b = batch.orderBy("user_id", "win_start").collect().toSeq
    assert(s.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))) ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
  }

  test("Kafka-shaped wire rows (binary key/value + broker metadata) decode and window unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // the full Kafka source surface: BINARY key and value plus
    // topic/partition/offset/timestamp/timestampType metadata columns —
    // decode must key off `value` and ignore the rest, exactly as it will
    // when `readStream.format("kafka")` replaces the MemoryStream.
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    val source = graft.model.StreamSource(
      topic = "events", bootstrapServers = "broker:9092",
      format = graft.model.StreamFormat.Json(schema),
      eventTimestampColumn = "ts",
      fieldMapping = Map("uid" -> "user_id", "v" -> "value"))
    val wire = events.zipWithIndex.map { case (e, i) =>
      KafkaRec(
        key = e.user_id.toString.getBytes("UTF-8"),
        value = s"""{"uid":${e.user_id},"ts":"${e.ts.toInstant}","v":${e.value}}"""
          .getBytes("UTF-8"),
        topic = "events", partition = (e.user_id % 2).toInt, offset = i.toLong,
        timestamp = new Timestamp(e.ts.getTime + 250L), // broker arrival time
        timestampType = 0)
    }
    val mem = MemoryStream[KafkaRec](spark)
    mem.addData(wire: _*)
    val decoded = StreamFeatures.decode(mem.toDF(), source)
    assert(decoded.columns.toSeq == Seq("user_id", "ts", "value")) // payload only
    val streamed = runStream(
      StreamFeatures.tumbling(decoded, "user_id", "ts", "10 minutes",
        watermarkDelay = "1 hour", valueCol = "value"),
      "t_kafka_wire")
    val batch = Windows.tumbling(events.toDF(), Seq("user_id"), "ts", 600,
      Seq(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value")))
    val s = streamed.orderBy("user_id", "win_start").collect().toSeq
    val b = batch.orderBy("user_id", "win_start").collect().toSeq
    assert(s.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))) ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
  }

  test("streaming dedup within watermark equals batch exact dedup") {
    import spark.implicits._
    val base = tsOf("2024-01-01T00:00:00Z").getTime
    // 30 rows over 10 distinct (user_id, value) keys — duplicates arrive
    // within minutes of each other (inside the 1h watermark horizon)
    val rows = for (i <- 0 until 30) yield
      Ev((i % 10).toLong, new Timestamp(base + i * 60000L), (i % 10).toDouble)
    val mem = MemoryStream[Ev](spark)
    mem.addData(rows: _*)
    val out = StreamFeatures.dedupStream(
      mem.toDF(), Seq("user_id", "value"), "ts", watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_dedup")
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val batch = graft.ops.Dedup.exact(
      rows.toDF().withColumn("k", concat_ws(":", col("user_id"), col("value"))),
      "k", "user_id")
    assert(streamed.size == 10) // one survivor per distinct key
    assert(streamed.map(_._1).distinct.size == 10 && batch.count() == 10)
  }

  test("binary Avro payloads decode through StreamSource (static + streaming)") {
    import spark.implicits._
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.io.EncoderFactory

    val schemaJson =
      """{"type":"record","name":"Ev","fields":[
        |{"name":"uid","type":"long"},
        |{"name":"ts_sec","type":"long"},
        |{"name":"v","type":["null","double"]},
        |{"name":"tag","type":"string"},
        |{"name":"toks","type":{"type":"array","items":"int"}}]}""".stripMargin
    val schema = new Schema.Parser().parse(schemaJson)
    def enc(uid: Long, tsSec: Long, v: java.lang.Double, tag: String, toks: Seq[Int]): Array[Byte] = {
      val rec = new GenericData.Record(schema)
      rec.put("uid", uid); rec.put("ts_sec", tsSec); rec.put("v", v)
      rec.put("tag", tag)
      rec.put("toks", java.util.Arrays.asList(toks.map(Int.box): _*))
      val out = new java.io.ByteArrayOutputStream()
      val e = EncoderFactory.get().binaryEncoder(out, null)
      new GenericDatumWriter[GenericData.Record](schema).write(rec, e)
      e.flush()
      out.toByteArray
    }
    val base = tsOf("2024-01-01T00:00:00Z").getTime / 1000
    val payloads = Seq(
      enc(1L, base + 10, 0.5, "a", Seq(1, 2, 3)),
      enc(2L, base + 20, null, "b", Seq(4)),
      Array[Byte](0x7F, 0x00) // corrupt: must decode to a null struct, not crash
    )
    val source = graft.model.StreamSource(
      topic = "events", bootstrapServers = "broker:9092",
      format = graft.model.StreamFormat.Avro(schemaJson),
      eventTimestampColumn = "ts_sec",
      fieldMapping = Map("uid" -> "user_id"))
    // static frame decode
    val decoded = StreamFeatures.decode(
      payloads.toDF("value"), source)
    val rows = decoded.collect()
    assert(rows.length == 3)
    val byUid = rows.filter(!_.isNullAt(0))
      .map(r => r.getLong(r.fieldIndex("user_id")) -> r).toMap
    assert(byUid(1L).getDouble(byUid(1L).fieldIndex("v")) == 0.5)
    assert(byUid(1L).getString(byUid(1L).fieldIndex("tag")) == "a")
    assert(byUid(1L).getSeq[Int](byUid(1L).fieldIndex("toks")) == Seq(1, 2, 3))
    assert(byUid(2L).isNullAt(byUid(2L).fieldIndex("v"))) // [null, double] union
    assert(rows.count(_.isNullAt(0)) == 1) // corrupt row → null fields
    // streaming decode: same payloads through a MemoryStream, windowed
    val mem = MemoryStream[Array[Byte]](spark)
    mem.addData(payloads.take(2): _*)
    val streamDecoded = StreamFeatures.decode(mem.toDF().select(col("value")), source)
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val got = runStream(
      StreamFeatures.tumbling(streamDecoded.na.drop(Seq("user_id")), "user_id", "ts",
        "10 minutes", watermarkDelay = "1 hour", valueCol = "v"),
      "t_avro")
    assert(got.count() == 2) // one window row per uid
    // Proto stays a declared-but-undecodable format offline: the seam errors
    intercept[UnsupportedOperationException] {
      StreamFeatures.decode(payloads.toDF("value"),
        source.copy(format = graft.model.StreamFormat.Proto("my.Msg")))
    }
  }

  test("flatMapGroupsWithState as-of enrichment equals the batch as-of join") {
    import spark.implicits._
    import graft.pit.{AsOfJoin, AsOfSpec}
    val base = tsOf("2024-01-01T00:00:00Z").getTime
    val rnd = new scala.util.Random(5)
    // feature updates and probes over 6 keys, with duplicate-ts features
    // (created tie-break) and probes before/inside/outside the ttl window
    val feats = for (k <- 0 until 6; i <- 0 until 30) yield AsOfEvent(
      s"k$k", new Timestamp(base + rnd.nextInt(7200) * 1000L),
      is_feature = true, created = rnd.nextInt(100).toLong, value = rnd.nextDouble())
    val probes = for (k <- 0 until 6; i <- 0 until 40) yield AsOfEvent(
      s"k$k", new Timestamp(base - 600_000L + rnd.nextInt(10800) * 1000L),
      is_feature = false, created = 0L, value = 0.0)
    val ttl = 1800L

    val mem = MemoryStream[AsOfEvent](spark)
    mem.addData(feats ++ probes: _*)
    val q = StreamFeatures.asOfEnrich(mem.toDS(), ttl)
      .writeStream.format("memory").queryName("t_asof_enrich")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_asof_enrich")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap

    // batch oracle: the windowed as-of join on the same rows; probe rows
    // need unique ids only for the comparison key
    val entity = probes.zipWithIndex
      .map { case (p, i) => (i.toLong, p.key, p.ts) }.toDF("pid", "key", "ts")
    val feature = feats.map(f => (f.key, f.ts, f.created, f.value))
      .toDF("key", "fts", "created", "value")
    val batch = AsOfJoin.windowed(entity, feature,
      AsOfSpec(Seq("key"), "ts", "fts", Some("created"), Some(ttl), Seq("value")))
      .collect().map(r => (r.getString(1), r.getTimestamp(2).getTime) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap

    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }

  test("streaming latest-per-key foreachBatch sink materializes the maximum ts per key") {
    import spark.implicits._
    def at(min: Long) = new Timestamp(tsOf("2024-01-01T00:00:00Z").getTime + min * 60000L)
    val first = Seq(Ev(1L, at(10), 1.0), Ev(1L, at(20), 1.2), Ev(2L, at(15), 2.0), Ev(3L, at(5), 3.0))
    // user 1's row is older than the stored one and must lose; user 2's is
    // newer and must win; user 3's ties the stored (user_id, ts) and loses
    // on its smaller payload, whichever batch it came in with
    val second = Seq(Ev(1L, at(12), 9.9), Ev(2L, at(30), 2.3), Ev(3L, at(5), 2.5))
    val sink = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val table = graft.table.SnapshotTable(s"$sink/data")
    def run(batches: Seq[Ev]*): Unit = {
      val mem = MemoryStream[Ev](spark)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
      val q = StreamFeatures.latestToSink(mem.toDF(), Seq("user_id"), "ts",
        table.root, s"$ckpt/cp").start()
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "ts", "value").as[(Long, Timestamp, Double)].collect().toSeq

    run(first, second)
    val got = rows(table.read(spark))
    assert(table.history.size == 2, "one snapshot per micro-batch")
    assert(got.sortBy(_._1) == rows(graft.materialize.Materialize.latestPerKey(
      (first ++ second).toDF(), Seq("user_id"), "ts", ties = Seq("value"))).sortBy(_._1))
    assert(got.find(_._1 == 3L).map(_._3) == Some(3.0))
    assert(got.map(_._1).sorted == Seq(1L, 2L, 3L), "one row per key")
    // replay: the second batch again through a fresh checkpoint, as after a
    // crash between the upsert and the checkpoint — same rows, one snapshot
    run(second)
    assert(rows(table.read(spark)).sortBy(_._1) == got.sortBy(_._1))
    assert(table.history.size == 3)
  }
}
