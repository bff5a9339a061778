package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions._

import graft.fixtures.TokenSeq
import graft.pit.{AsOfJoin, AsOfSpec}

/** North-rule invariant suite over the tokenized-sequence input shape
  * (doc_id: string, tokens: array<int32>, n_tok: int32, source: string):
  * per-row token-array EXACT equality through the point-in-time join at
  * every entity×timestamp, computed against an independent driver-side
  * oracle; plus determinism of the fixture generator across parallelism
  * levels (the property that makes the two-cluster-size bench comparable).
  */
class TokenSeqPitSpec extends SparkSpec {

  test("generator is deterministic and schema-exact") {
    val df = TokenSeq.generate(spark, n = 2000, entities = 20)
    val fields = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(fields("doc_id") == "string")
    assert(fields("tokens") == "array<int>")
    assert(fields("n_tok") == "int")
    assert(fields("source") == "string")
    // deterministic: same args → identical content hash, independent of partitioning
    def fingerprint(parts: Int): Long =
      TokenSeq.generate(spark, 2000, 20).repartition(parts)
        .select(xxhash64(col("doc_id"), col("n_tok"), col("tokens").cast("string"),
          col("source"), col("event_timestamp"), col("created_timestamp")).as("h"))
        .agg(expr("bit_xor(h)")).head().getLong(0) // order/overflow-safe rollup
    assert(fingerprint(2) == fingerprint(7))
    // n_tok always agrees with the array length
    assert(df.where(size(col("tokens")) =!= col("n_tok")).count() == 0)
  }

  test("token arrays survive the PIT join byte-identical (vs naive oracle)") {
    val feats = TokenSeq.generate(spark, n = 3000, entities = 25, dupPct = 15)
    val probes = TokenSeq.entityProbes(spark, entities = 25, probesPerEntity = 8)
    val ttl = 6L * 3600

    val out = AsOfJoin.windowed(
      probes, feats,
      AsOfSpec(Seq("doc_id"), "event_timestamp", "event_timestamp",
        Some("created_timestamp"), Some(ttl), Seq("tokens", "n_tok", "source")))

    // Independent oracle: collect the (small) fixture and re-derive per probe.
    val featRows = feats.collect().map { r =>
      (r.getString(0), r.getSeq[Int](1).toList, r.getInt(2), r.getString(3),
        r.getTimestamp(4).getTime, r.getTimestamp(5).getTime)
    }
    val byDoc = featRows.groupBy(_._1)
    val probeRows = probes.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))

    val expected = probeRows.map { case (pid, doc, pts) =>
      val cands = byDoc.getOrElse(doc, Array.empty)
        .filter(f => f._5 <= pts && f._5 >= pts - ttl * 1000L)
      val best =
        if (cands.isEmpty) None
        else Some(cands.maxBy(f => (f._5, f._6)))
      pid -> best.map(f => (f._2, f._3, f._4))
    }.toMap

    val actual = out.collect().map { r =>
      val pid = r.getLong(r.fieldIndex("probe_id"))
      val pick =
        if (r.isNullAt(r.fieldIndex("n_tok"))) None
        else Some((
          r.getSeq[Int](r.fieldIndex("tokens")).toList,
          r.getInt(r.fieldIndex("n_tok")),
          r.getString(r.fieldIndex("source"))))
      pid -> pick
    }.toMap

    assert(actual.keySet == expected.keySet)
    var matched = 0
    var nulls = 0
    for ((pid, exp) <- expected) {
      assert(actual(pid) == exp, s"probe $pid: token/meta mismatch")
      if (exp.isDefined) matched += 1 else nulls += 1
    }
    // the probe grid must actually exercise both branches
    assert(matched > 0, "no probe matched any feature row — fixture too sparse")
    assert(nulls > 0, "every probe matched — null-fill branch never exercised")
  }

  test("duplicate (doc_id, ts) rows resolve to the max created_timestamp row") {
    val feats = TokenSeq.generate(spark, n = 3000, entities = 10, dupPct = 40)
    // rows sharing (doc_id, event_timestamp): engine must pick max created_ts
    // ties beyond created_ts broken on n_tok so the oracle is deterministic
    val latest = graft.materialize.Materialize.latestPerKey(
      feats.select("doc_id", "event_timestamp", "created_timestamp", "n_tok"),
      keys = Seq("doc_id", "event_timestamp"), ts = "created_timestamp",
      ties = Seq("n_tok"))
    val naive = feats.collect()
      .map(r => ((r.getString(0), r.getTimestamp(4).getTime), (r.getTimestamp(5).getTime, r.getInt(2))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max._2 }
    val got = latest.collect()
      .map(r => ((r.getString(0), r.getTimestamp(1).getTime), r.getInt(3))).toMap
    assert(got == naive)
  }

  test("hot-key fixture concentrates mass on doc_0 (skew-bench precondition)") {
    val skewed = TokenSeq.generate(spark, n = 5000, entities = 50, hotSharePct = 40)
    val hot = skewed.where(col("doc_id") === "doc_0").count().toDouble / 5000
    assert(hot > 0.35 && hot < 0.55, s"hot share was $hot")
  }

  /** timedJob's input directory on a small fixture of its shape. */
  private lazy val timedJobDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_timedjob_jobs").toString
    TokenSeq.generate(spark, n = 3000, entities = 20, maxTokens = 16,
        hotSharePct = ScalingBench.HotSharePct, dupPct = 10)
      .write.parquet(s"$dir/sequences")
    TokenSeq.entityProbes(spark, entities = 20, probesPerEntity = 10,
        hotSharePct = ScalingBench.HotSharePct)
      .write.parquet(s"$dir/probes")
    dir
  }

  test("ScalingBench.timedJob: fixed jobs per call and checksum on a small fixture") {
    // fence on the headline job's driver round trips (the metadata count,
    // hot-key detection, the as-of window and fetch, the checksum action)
    val dir = timedJobDir // written before the count starts
    val ((nRows, probeRows, checksum, _), jobs) = jobsDuring(ScalingBench.timedJob(spark, dir))
    assert((nRows, probeRows, checksum, jobs) == (3000L, 200L, 3836380163743072528L, 13))
  }

  test("ScalingBench.timedJob: four sorts in its executed plans, one for both FE windows") {
    // slot compaction (partial + final sort aggregate), the FE windows and
    // the as-of window; a sort per FE window made it five
    val dir = timedJobDir
    val (_, plans) = PlanShape.executedPlans(spark)(ScalingBench.timedJob(spark, dir))
    val sorts = plans.flatMap(p => PlanShape.collect(p) { case s: SortExec => s })
    assert(sorts.size == 4, sorts.map(_.simpleString(200)).mkString("\n"))
  }
}
