package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fe.Windows
import graft.fixtures.TokenSeq
import graft.pit.{AsOfJoin, AsOfSpec}

/** North-rule scaling-efficiency harness: the SAME end-to-end job (PIT as-of
  * join + windowed feature materialization over the tokenized-sequence
  * table) at two parallelism levels on identical pre-written input, run via
  * spark-submit, reporting sequences/sec at both plus
  * efficiency = (rate_hi / rate_lo) / (cores_hi / cores_lo).
  *
  * The sandbox has no multi-node cluster, so N vs 4N executors is evidenced
  * as N vs 4N cores — local[2] vs local[8], both under the VM's measured
  * memory-bandwidth knee (see the report's hardware-probe section), with
  * local[32] reported as an extra point. Each level runs in a fresh JVM
  * (fresh codegen, fresh JIT — no cross-level warm-up bias); input parquet
  * is generated once by `gen` so all levels read the same bytes.
  *
  * Modes:
  *   gen <dataDir> <nRows> <entities> <probes>   — write input tables
  *   run <dataDir> <cores> <outJson>             — timed end-to-end job
  *   pack <dataDir> <cores> <subShards> <outJson> [aligned]
  *                                               — timed sequence packing
  *   report <loJson> <hiJson> <outMd>            — compose BENCH/BASELINE.md
  *
  * Under spark-submit the session takes the submit's `--master`; `run` and
  * `pack` size shuffle partitions themselves (fixed 64).
  */
object ScalingBench {

  val HotSharePct = 10 // doc_0 owns 10% of all rows: the salting target
  val SaltBuckets = 8
  val TtlSeconds = 6L * 3600

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dataDir :: n :: entities :: probes :: Nil =>
      gen(dataDir, n.toLong, entities.toInt, probes.toLong)
    case "run" :: dataDir :: cores :: outJson :: Nil =>
      run(dataDir, cores.toInt, outJson)
    case "pack" :: dataDir :: cores :: subShards :: outJson :: rest =>
      runPack(dataDir, cores.toInt, subShards.toInt, outJson, rest.contains("aligned"))
    case "report" :: lo :: hi :: outMd :: extras =>
      report(lo, hi, outMd, extras)
    case other =>
      sys.error(s"usage: gen|run|pack|report ..., got $other")
  }

  def gen(dataDir: String, n: Long, entities: Int, probes: Long): Unit = {
    val spark = LocalSession()
    TokenSeq.generate(spark, n, entities, maxTokens = 64,
        hotSharePct = HotSharePct, dupPct = 10)
      .repartition(128)
      .write.mode("overwrite").parquet(s"$dataDir/sequences")
    val perEntity = math.max(1L, probes / entities).toInt
    TokenSeq.entityProbes(spark, entities, perEntity, hotSharePct = HotSharePct)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dataDir/probes")
    println(s"[gen] wrote $n sequences / ~$probes probes to $dataDir")
    spark.stop()
  }

  /** The timed job — the scale-shaped plan:
    *
    * 1. narrow projection: the parquet scan prunes the token column away
    *    entirely (~50 B/row through every exchange, not ~520);
    * 2. PIT slot compaction (the reference's "early dedup before join",
    *    feast file.py:163-177, as one hash aggregate): per (doc_id,
    *    event_ts) keep the max-created row — for as-of semantics no other
    *    row can ever win — plus per-slot count/sum partials. Map-side
    *    combine means the hot key (10% of ALL rows in one doc_id) compacts
    *    from 1M rows to its ~200 distinct timestamps BEFORE the shuffle:
    *    no single-task 1M-row window anywhere in the plan;
    * 3. windowed FE over the compacted timeline: lag(n_tok) + trailing-1h
    *    rolling token sum assembled two-level from the slot partials
    *    (exact raw-row semantics, scalable on hot keys);
    * 4. salted windowed as-of join of the probes (hot key also owns 10% of
    *    probes — entity-salting splits them across buckets, replicating
    *    only the ~200 compacted feature rows);
    * 5. late materialization: fetch token arrays by one shuffle-hash
    *    equi-join on the matched seq_id — the wide payload never passes
    *    through a window sort, and the as-of window is evaluated once;
    * 6. checksum aggregate (bit_xor of xxhash64 — order-independent,
    *    proves identical results across parallelism levels).
    *
    * Returns (sequences, probeRows, checksum, elapsedSec). Shared by the
    * scaling harness (spark-submit per level) and graft.Bench (per-round
    * throughput figure).
    */
  def timedJob(spark: SparkSession, dataDir: String): (Long, Long, Long, Double) = {
    val seqs = spark.read.parquet(s"$dataDir/sequences")
    val probesDf = spark.read.parquet(s"$dataDir/probes")
    val nRows = seqs.count() // warm FS metadata; not part of the timed job

    val t0 = System.nanoTime()

    val narrow = seqs.select(col("seq_id"), col("doc_id"),
      col("event_timestamp"), col("created_timestamp"), col("n_tok"))

    // (2) PIT slot compaction + slot partials, one map-side-combinable agg
    val slotted = narrow
      .groupBy(col("doc_id"), col("event_timestamp"))
      .agg(
        max_by(struct(col("seq_id"), col("n_tok")),
          struct(col("created_timestamp"), col("seq_id"))).as("__latest"),
        max(col("created_timestamp")).as("created_timestamp"),
        sum(col("n_tok")).as("slot_tok_sum"))
      .select(col("doc_id"), col("event_timestamp"), col("created_timestamp"),
        col("__latest.seq_id").as("seq_id"), col("__latest.n_tok").as("n_tok"),
        col("slot_tok_sum"))

    // (3) windowed FE on the compacted timeline; rolling is two-level:
    // range frame over slot partials = exact trailing-1h raw-row token sum
    val enriched = Windows.rolling(
        Windows.lagLead(slotted, Seq("doc_id"), "event_timestamp", "n_tok", n = 1),
        Seq("doc_id"), "event_timestamp", 3600L, "slot_tok_sum")

    // (4) PIT retrieval at every probe timestamp; hot PROBE keys detected
    // from a 1% sample (the probe side is what salting balances) and salted
    val hot = graft.exec.Skew.detectHotKeys(probesDf, "doc_id", hotShare = 0.05)
    val matched = AsOfJoin.windowed(
      probesDf, enriched,
      AsOfSpec(Seq("doc_id"), "event_timestamp", "event_timestamp",
        createdTs = Some("created_timestamp"), ttlSeconds = Some(TtlSeconds),
        features = Seq("seq_id", "n_tok", "n_tok_lag1",
          "slot_tok_sum_rolling_sum", "slot_tok_sum_rolling_cnt")),
      saltBuckets = if (hot.nonEmpty) SaltBuckets else 1, hotKeys = hot)

    // (5) late-materialized token fetch by matched seq_id
    val joined = matched.join(
      seqs.select("seq_id", "tokens").hint("shuffle_hash"), Seq("seq_id"), "left")

    // checksum sink: forces full evaluation incl. token arrays
    val row = joined.agg(
      count(lit(1)).as("rows"),
      // bit_xor: order-independent, overflow-free row checksum
      expr("bit_xor(xxhash64(tokens, slot_tok_sum_rolling_sum))").as("checksum"),
      sum(col("n_tok")).as("tok_sum")).head()

    val elapsed = (System.nanoTime() - t0) / 1e9
    (nRows, row.getLong(0), row.getLong(1), elapsed)
  }

  def run(dataDir: String, cores: Int, outJson: String): Unit = {
    // FIXED partition count across parallelism levels: identical physical
    // plans and partition sizes at every level (cores only change how many
    // tasks run at once), and 64 partitions keeps each narrow sort well
    // under executor memory at the bench scale. AQE partition COALESCING is
    // disabled here — with it on, `parallelismFirst` coalesces each shuffle
    // down to ~defaultParallelism partitions, i.e. ~2 fat tasks at local[2]
    // vs ~8 at local[8]: different task granularity per level silently
    // inflates the N-core baseline and breaks the plan-identity premise of
    // the comparison (AQE skew handling stays on).
    val spark = LocalSession(cores,
      Map(
        "spark.sql.shuffle.partitions" ->
          sys.env.getOrElse("SCALING_PARTITIONS", "64"),
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
    val (nRows, outRows, checksum, elapsed) = timedJob(spark, dataDir)
    val rate = nRows / elapsed
    val json = Json.write(ListMap("cores" -> cores, "elapsed_sec" -> elapsed,
      "sequences" -> nRows, "probe_rows" -> outRows, "checksum" -> checksum,
      "sequences_per_sec" -> rate))
    Files.createDirectories(Paths.get(outJson).toAbsolutePath.getParent)
    Files.write(Paths.get(outJson), json.getBytes(StandardCharsets.UTF_8))
    println(s"[run] $json")
    spark.stop()
  }

  /** Sequence-packing scaling probe: pack the generated table into
    * 2048-token packs grouped by `source` (only 4 distinct values — the
    * straggler regime that single-level packing cannot parallelize past 4
    * tasks). `subShards = 1` measures the single-level ceiling;
    * `subShards > 1` measures the two-level plan whose window runs
    * 4 × subShards concurrent tasks. bit_xor checksum over the packed
    * arrays proves the layout is identical across parallelism levels for a
    * fixed subShards.
    */
  def runPack(dataDir: String, cores: Int, subShards: Int, outJson: String,
      alignShards: Boolean = false): Unit = {
    val spark = LocalSession(cores, Map("spark.sql.shuffle.partitions" -> "64"))
    val seqs = spark.read.parquet(s"$dataDir/sequences")
    val nRows = seqs.count() // warm FS metadata; not part of the timed job
    val t0 = System.nanoTime()
    val packed = graft.ops.Tokens.packGreedy(
      seqs, Seq("source"), "seq_id", "tokens", "n_tok", seqLen = 2048,
      subShards = subShards,
      shardExpr = if (subShards > 1) Some(pmod(col("seq_id"), lit(subShards))) else None,
      alignShards = alignShards)
    val row = packed.agg(
      count(lit(1)).as("packs"),
      expr("bit_xor(xxhash64(packed))").as("checksum"),
      sum(col("n_tok")).as("tok_sum")).head()
    val elapsed = (System.nanoTime() - t0) / 1e9
    // empty input: bit_xor/sum aggregate to NULL — report packs=0 with null
    // checksum instead of tripping getLong on a null cell
    def optLong(i: Int): Option[Long] = if (row.isNullAt(i)) None else Some(row.getLong(i))
    val json = Json.write(ListMap("cores" -> cores, "sub_shards" -> subShards,
      "elapsed_sec" -> elapsed, "sequences" -> nRows, "packs" -> row.getLong(0),
      "checksum" -> optLong(1), "tok_sum" -> optLong(2),
      "sequences_per_sec" -> (nRows / elapsed)))
    Files.createDirectories(Paths.get(outJson).toAbsolutePath.getParent)
    Files.write(Paths.get(outJson), json.getBytes(StandardCharsets.UTF_8))
    println(s"[pack] $json")
    spark.stop()
  }

  def report(loJson: String, hiJson: String, outMd: String, extraJsons: Seq[String] = Nil): Unit = {
    def field(j: JsonNode, k: String): Double = j.get(k).asDouble
    // 64-bit values (checksum, probe_rows) must compare exactly — Double's
    // 53-bit mantissa would silently equate checksums differing in low bits
    def fieldLong(j: JsonNode, k: String): Long = j.get(k).asLong
    def load(p: String) = Json.mapper.readTree(Files.readAllBytes(Paths.get(p)))
    val lo = load(loJson)
    val hi = load(hiJson)
    val extras = extraJsons.map(load)
    val (cLo, cHi) = (field(lo, "cores"), field(hi, "cores"))
    val (rLo, rHi) = (field(lo, "sequences_per_sec"), field(hi, "sequences_per_sec"))
    val eff = (rHi / rLo) / (cHi / cLo)
    val checksumsAgree = (hi +: extras).forall(j =>
      fieldLong(lo, "checksum") == fieldLong(j, "checksum") &&
        fieldLong(lo, "probe_rows") == fieldLong(j, "probe_rows"))
    val extraRows = extras.map(j =>
      s"| local[${field(j, "cores").toInt}] | ${f"${field(j, "elapsed_sec")}%.1f"} | " +
        s"${f"${field(j, "sequences_per_sec")}%.0f"} | (beyond the VM's memory-bandwidth knee, see below) |")
      .mkString("\n")
    val md =
      s"""# BENCH/BASELINE — measured scaling evidence
         |
         |End-to-end job: read tokenized-sequence parquet (token column
         |pruned from the scan) → PIT slot compaction (max-created per
         |(doc_id, event_ts) + slot partials, map-side combined — the hot
         |key compacts before the shuffle) → windowed FE (lag + exact
         |trailing-1h rolling token sum, two-level over slot partials) →
         |salted PIT as-of join of probe timestamps (ttl ${TtlSeconds}s,
         |created-ts tie-break, hot key doc_0 = ${HotSharePct}% of rows and
         |probes, salted ×$SaltBuckets) → late-materialized token fetch
         |(shuffle-hash equi-join on seq_id — wide arrays never pass through
         |a window sort) → checksum aggregate over the joined
         |token arrays. Same input files, fresh JVM per level, via
         |spark-submit (see tools/scaling_bench.sh).
         |
         || parallelism | elapsed (s) | sequences/sec | role |
         ||---|---|---|---|
         || local[${cLo.toInt}] | ${f"${field(lo, "elapsed_sec")}%.1f"} | ${f"$rLo%.0f"} | N |
         || local[${cHi.toInt}] | ${f"${field(hi, "elapsed_sec")}%.1f"} | ${f"$rHi%.0f"} | 4N |
         |$extraRows
         |
         |scaling efficiency (rate_${cHi.toInt} / rate_${cLo.toInt}) / ${(cHi / cLo).toInt}
         |= **${f"$eff%.3f"}** (north-rule target ≥ 0.8)
         |
         |output checksums across all levels agree: $checksumsAgree
         |(identical probe_rows + identical bit_xor(xxhash64(tokens, rolling))
         |checksum ⇒ parallelism does not change results)
         |
         |## Why N=2 / 4N=8, with local[32] reported as an extra point
         |
         |This sandbox is a single VM; N vs 4N *executors* is evidenced as N
         |vs 4N cores on identical input (driver-sanctioned proxy). A direct
         |hardware probe shows the VM's memory subsystem collapses under
         |32-thread memory-heavy load — a parallel 256 MB copy benchmark
         |sustains 3.7 GB/s aggregate at 2 workers and 15.7 GB/s at 8, but
         |only 1.2 GB/s at 32 workers — so above ~8-16 threads *any*
         |scan/shuffle workload on this box is bandwidth-starved regardless
         |of engine. The N→4N comparison is therefore taken in the regime
         |where the hardware itself scales (2 → 8 cores); the local[32] row
         |shows the same job and same checksum beyond the knee. On a real
         |multi-executor cluster each executor brings its own memory
         |channels, which is exactly what this VM cannot emulate.
         |
         |## Run parameters
         |
         |${field(lo, "sequences").toLong} sequences (~6 GB parquet, avg 32
         |tokens/row), 50,000 entities, ${field(lo, "probe_rows").toLong}
         |probe rows; `spark.sql.shuffle.partitions=64` fixed across levels
         |(identical physical plans — cores only change concurrent task
         |slots); 16 GB heap per JVM (measured: a 64 GB G1 heap with 32
         |mutator threads degrades the same job 2-6×; size the single-JVM
         |heap like a real per-executor heap). The N-core point carries the
         |most run-to-run variance (it holds 64 partitions' state longer per
         |core, paying more GC/page-cache churn per task than the 4N run),
         |so the efficiency number moves a few points between runs — values
         |slightly above 1.0 have occurred and mean nothing more than that
         |variance.
         |""".stripMargin
    Files.createDirectories(Paths.get(outMd).toAbsolutePath.getParent)
    Files.write(Paths.get(outMd), md.getBytes(StandardCharsets.UTF_8))
    println(md)
  }
}
