package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.immutable.ListMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** The bench entry point: every run prints ONE JSON line on stdout.
  *
  *   runMain graft.Bench                  per-round contract (below)
  *   runMain graft.Bench cc [nChains] [len]
  *   runMain graft.Bench cosine [n1] [n2]
  *   runMain graft.Bench dedup [nDocs]
  *   runMain graft.Bench digest [nDocs] [wordsPerDoc]
  *   runMain graft.Bench span [nDocs] [docLen] [n]
  *
  * The per-round contract reports per-query wall times over
  * SPARK_GRAFT_SF_DIR, plus the headline BASELINE.md metric — end-to-end
  * PIT + windowed-FE throughput (sequences/sec) over the tokenized-sequence
  * input (10M rows, generated once to /tmp and reused across rounds).
  * Scaling efficiency across parallelism levels is measured separately by
  * tools/scaling_bench.sh → BENCH/BASELINE.md (fresh JVM per level; can't be
  * done inside one JVM). The operator modes feed BENCH/DEDUP.md; each
  * keeps its own fixture and cross-checks its competing plans with
  * `require` before reporting.
  */
object Bench {
  type Result = ListMap[String, Any]

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    try println(Json.write(run(spark, args.toList)))
    finally spark.stop()
  }

  def run(spark: SparkSession, args: List[String]): Result = args match {
    case Nil => contract(spark)
    case "cc" :: rest => cc(spark, rest)
    case "cosine" :: rest => cosine(spark, rest)
    case "dedup" :: rest => dedup(spark, rest)
    case "digest" :: rest => digest(spark, rest)
    case "span" :: rest => span(spark, rest)
    case other =>
      sys.error(s"usage: Bench [cc|cosine|dedup|digest|span [args]], got $other")
  }

  /** Wall seconds of evaluating `f`, with its value. */
  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def intArg(args: List[String], i: Int, default: => Int): Int =
    args.lift(i).map(_.toInt).getOrElse(default)

  private def contract(spark: SparkSession): Result = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // SPARK_GRAFT_ONLY=q13,q14,q40 — iterate on a subset (skips the
    // headline), run IN THE GIVEN ORDER; overlapping prefixes are
    // deduplicated by query name (first mention wins) so no query is timed
    // twice or emitted as a duplicate JSON key
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
    val selected: Seq[(String, (SparkSession, String) => DataFrame)] =
      only match {
        case Some(prefixes) =>
          prefixes.flatMap(p => SparkEntry.queries.toSeq.filter(_._1.startsWith(p)).sortBy(_._1))
            .distinctBy(_._1)
        case None => SparkEntry.queries.toSeq.sortBy(_._1) // deterministic order
      }

    // Dedicated UNREPORTED warmup (bench protocol, see README): exercise the
    // parquet scan → shuffle → window/join codegen machinery once so q01's
    // reported time is warm work, not JIT + classloading. Round 2 instead let
    // q01 "absorb warmup", which made the flagship PIT number unreadable
    // round-over-round (6.2 s vs 0.33 s) — the warmup must not be a reported
    // query's timing.
    {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      ev.withColumn("__rn", row_number().over(w))
        .join(ev.select(col("event_id")), Seq("event_id"))
        .groupBy(col("event_type")).count().count()
    }

    // failures are RECORDED, not swallowed — a broken query must not show
    // up as a normal-looking timing in BENCH_r{N}.json
    val results = selected.map { case (name, fn) =>
      name -> timed(try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200))
      })
    }
    val qs = ListMap(results.map { case (k, (v, _)) => k -> v }: _*)
    val errs = ListMap(results.collect { case (k, (_, Some(e))) => k -> e }: _*)
    val nFailed = results.count(_._2._2.isDefined)
    val total = if (results.nonEmpty) results.map(_._2._1).sum else 0.0

    if (only.isDefined) // subset run: per-query times only
      return ListMap("metric" -> "subset", "value" -> total, "unit" -> "sec",
        "queries" -> qs, "failed" -> nFailed, "errors" -> errs, "sf" -> sfDir)

    // headline throughput: the BASELINE.md metric at bench scale. Fixture is
    // generated once to /tmp and reused — guarded by a params marker so a
    // partial prior run or a stale pre-fixture-change dir regenerates.
    val seqDir = "/tmp/graft_bench_seq"
    val params = s"v2 rows=10000000 entities=50000 maxTokens=64 " +
      s"hot=${ScalingBench.HotSharePct} dup=10 probesPerEntity=40"
    val markerPath = java.nio.file.Paths.get(s"$seqDir/PARAMS")
    val cacheOk =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$seqDir/sequences")) &&
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$seqDir/probes")) &&
      java.nio.file.Files.exists(markerPath) &&
      java.nio.file.Files.readString(markerPath) == params
    if (!cacheOk) {
      graft.fixtures.TokenSeq.generate(spark, 10000000L, 50000, maxTokens = 64,
          hotSharePct = ScalingBench.HotSharePct, dupPct = 10)
        .repartition(128).write.mode("overwrite").parquet(s"$seqDir/sequences")
      graft.fixtures.TokenSeq.entityProbes(spark, 50000, probesPerEntity = 40,
          hotSharePct = ScalingBench.HotSharePct)
        .repartition(32).write.mode("overwrite").parquet(s"$seqDir/probes")
      java.nio.file.Files.writeString(markerPath, params)
    }
    val (nSeq, _, checksum, elapsed) = ScalingBench.timedJob(spark, seqDir)
    val rate = nSeq / elapsed

    ListMap("metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> qs, "failed" -> nFailed, "errors" -> errs,
      "sf" -> sfDir, "pit_fe_sequences_per_sec" -> rate,
      "pit_fe_sequences" -> nSeq, "pit_fe_elapsed_sec" -> elapsed,
      "pit_fe_checksum" -> checksum,
      "scaling_evidence" -> "BENCH/BASELINE.md")
  }

  /** Long-chain connected components: large-star/small-star
    * ([[graft.ops.Dedup.starComponents]]) vs hash-min label propagation
    * ([[graft.ops.Dedup.hashMinComponents]]) on an adversarial chain-shaped
    * duplicate graph — `nChains` disjoint paths of `len` nodes, so the graph
    * diameter is len−1 regardless of edge count. Hash-min pays one join
    * round per hop of diameter; star contracts in O(log² n) rounds.
    * Near-dup graphs from pair mining are usually shallow cliques, but chain
    * shapes DO occur (A~B~C rewrite drift), and at 100 TB an iteration-count
    * blow-up is a wall-clock blow-up. Args: [nChains] [len], default
    * 100000 × 65.
    */
  private def cc(spark: SparkSession, args: List[String]): Result = {
    val nChains = intArg(args, 0, 100000)
    val len = intArg(args, 1, 65)

    // edge i of chain c: (c*len + pos, c*len + pos + 1), canonical a < b
    val e = spark.range(nChains.toLong * (len - 1)).select(
      (col("id") / (len - 1)).cast("long").as("c"),
      (col("id") % (len - 1)).as("p"))
      .select((col("c") * len + col("p")).as("a"),
        (col("c") * len + col("p") + 1).as("b"))
      .localCheckpoint()
    val nEdges = e.count()

    def checksum(df: DataFrame): Long =
      df.select(bit_xor(xxhash64(col("id"), col("comp"))).as("x"))
        .collect()(0).getLong(0)

    val sr = new AtomicInteger
    val (starSec, starSum) = timed(checksum(
      Dedup.starComponents(e, maxIter = 25, rounds = sr)))
    val hr = new AtomicInteger
    val (hmSec, hmSum) = timed(checksum(
      Dedup.hashMinComponents(e, maxIter = len + 5, rounds = hr)))
    require(starSum == hmSum, s"label checksums diverge: $starSum vs $hmSum")
    // the production route: hash-min head + star fallback (what
    // connectedComponents actually runs above the driver gate)
    val (escSec, escSum) = timed(checksum(Dedup.connectedComponents(
      e.select(col("a").as("id1"), col("b").as("id2")), driverMaxEdges = 0L)))
    require(escSum == starSum, s"escalation checksum diverges: $escSum vs $starSum")

    ListMap("metric" -> "cc_long_chain", "n_chains" -> nChains, "len" -> len,
      "n_edges" -> nEdges, "diameter" -> (len - 1),
      "star_sec" -> starSec, "star_rounds" -> sr.get,
      "hashmin_sec" -> hmSec, "hashmin_rounds" -> hr.get,
      "escalation_sec" -> escSec,
      "checksum" -> starSum)
  }

  /** Candidate-volume scaling of embedding near-dup: FIXED-bits sign-LSH
    * bucketing grows candidate pairs quadratically with corpus size
    * ((N/2^bits)² per bucket) while corpus-scaled banded bucketing
    * (`targetBucketSize`) stays ~linear. Candidate count is measured exactly
    * by running the operator at threshold = -1 (every candidate survives
    * verification). A 4× corpus must show ~16× candidates for fixed bits vs
    * ~4× for scaled — the growth exponents are reported directly. Args:
    * [n1] [n2], default 4000 and 4 × n1.
    */
  private def cosine(spark: SparkSession, args: List[String]): Result = {
    val n1 = intArg(args, 0, 4000)
    val n2 = intArg(args, 1, n1 * 4)
    import spark.implicits._

    // deterministic random embeddings, 32-dim, unit-free (cosine normalizes)
    def corpus(n: Int) = {
      val df = spark.range(n).map { id =>
        val rnd = new scala.util.Random(id * 2654435761L)
        (id, Array.fill(32)(rnd.nextGaussian().toFloat))
      }.toDF("vec_id", "embedding").cache()
      df.count()
      df
    }

    val results = Seq(n1, n2).map { n =>
      val df = corpus(n)
      // fixed 4-bit bucketing — the round-2 shape
      val (tF, cF) = timed(Similarity.cosineNearDup(
        df, "vec_id", "embedding", numBits = 4, threshold = -1.0).count())
      // corpus-scaled: bits from targetBucketSize, 4 bands for recall
      val (tS, cS) = timed(Similarity.cosineNearDup(
        df, "vec_id", "embedding", numBits = 4, threshold = -1.0,
        bands = 4, targetBucketSize = 64L).count())
      df.unpersist()
      (tF, cF, tS, cS)
    }
    val Seq((tF1, cF1, tS1, cS1), (tF2, cF2, tS2, cS2)) = results
    def exp(b: Long, a: Long): Double =
      math.log(b.toDouble / a) / math.log(n2.toDouble / n1)
    ListMap("bench" -> "cosine_neardup_scaling", "n1" -> n1, "n2" -> n2,
      "fixed_cand_n1" -> cF1, "fixed_cand_n2" -> cF2, "fixed_growth_exp" -> exp(cF2, cF1),
      "scaled_cand_n1" -> cS1, "scaled_cand_n2" -> cS2, "scaled_growth_exp" -> exp(cS2, cS1),
      "fixed_sec_n1" -> tF1, "fixed_sec_n2" -> tF2,
      "scaled_sec_n1" -> tS1, "scaled_sec_n2" -> tS2)
  }

  /** Stop-shingle-regime dedup: the three exact-Jaccard strategies on a
    * synthetic boilerplate-heavy corpus (every doc shares a 22-word header —
    * the regime where a full inverted-index join explodes as Σ df² while
    * prefix filtering and the df cap stay linear-ish). The sf documents
    * table has no frequent shingles, so there the 3-stage plain plan wins on
    * fixed per-stage costs; this fixture isolates the data-dependent term
    * the 100 TB posture cares about. Args: [nDocs], default 10000.
    */
  private def dedup(spark: SparkSession, args: List[String]): Result = {
    val n = intArg(args, 0, 10000)
    import spark.implicits._

    val header = "terms of service all rights reserved this document is " +
      "provided as is without warranty of any kind either express or implied"
    val rnd = new scala.util.Random(42)
    val words = Array.tabulate(5000)(i => s"w$i")
    val docs = (0 until n).map { i =>
      val tail = (0 until 15).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
      (i.toLong, s"$header $tail")
    }.toDF("doc_id", "text").cache()
    docs.count() // materialize
    Dedup.exact(docs, "text", "doc_id").count() // JVM/codegen warm

    val t = 0.85
    val (tPrefix, rPrefix) = timed(
      Dedup.ngramJaccardPrefix(docs, "doc_id", "text", 3, t).count())
    val (tCapped, rCapped) = timed(
      Dedup.ngramJaccard(docs, "doc_id", "text", 3, t, Some(100L)).count())
    // the uncapped Σ df² join is the job-killer under measurement — it can
    // exhaust the driver heap outright at n=10000, which is itself the result
    val plain: Result =
      try {
        val (s, r) = timed(Dedup.ngramJaccard(docs, "doc_id", "text", 3, t).count())
        ListMap("plain_sec" -> s, "plain_rows" -> r, "plain_over_prefix" -> s / tPrefix)
      } catch {
        case e: Throwable =>
          ListMap("plain_sec" -> -1, "plain_error" -> e.toString.takeWhile(_ != '\n').take(120))
      }

    ListMap("bench" -> "dedup_stop_shingle", "n_docs" -> n, "threshold" -> t,
      "prefix_sec" -> tPrefix, "capped_sec" -> tCapped,
      "prefix_rows" -> rPrefix, "capped_rows" -> rCapped) ++ plain
  }

  /** Shuffle traffic of digest-keyed exact dedup: the same duplicate-heavy
    * corpus through [[graft.ops.Dedup.exact]] (groups on the raw text
    * column — the exchange carries the corpus) and
    * [[graft.ops.Dedup.exactByDigest]] (groups on a 128-bit xxhash64 pair —
    * the exchange carries 24-byte rows), with wall time and total
    * shuffle-write bytes from task metrics. The bytes ratio is the point:
    * it is what turns a 100 TB dedup's exchange into a ~TB one, independent
    * of wall-clock noise. The task-end listener lives only for this mode.
    * Args: [nDocs] [wordsPerDoc], default 200000 150.
    */
  private def digest(spark: SparkSession, args: List[String]): Result = {
    val n = intArg(args, 0, 200000)
    val wordsPerDoc = intArg(args, 1, 150)
    import spark.implicits._

    // ~1 KB docs, 30% exact duplicates (every 10th..12th doc repeats doc i-7):
    // the shape where the text-keyed exchange pays full corpus width
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(30000)(i => s"tok$i")
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      texts(i) =
        if (i > 10 && i % 10 < 3) texts(i - 7)
        else (0 until wordsPerDoc).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toSeq.toDF("doc_id", "text")
      .repartition(32).cache()
    docs.count()
    val corpusBytes = docs.select(sum(length($"text"))).head().getLong(0)

    val shuffleBytes = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def measured(f: => Long): (Double, Long, Long) = {
        Thread.sleep(1500) // drain listener events from previous jobs
        shuffleBytes.set(0L)
        val (sec, rows) = timed(f)
        Thread.sleep(1500) // let task-end events for this job arrive
        (sec, rows, shuffleBytes.get())
      }

      // warm BOTH plans' codegen/JIT on a slice (not measured) — warming
      // only one would bias its timed run
      Dedup.exact(docs.limit(1000), "text", "doc_id").count()
      Dedup.exactByDigest(docs.limit(1000), "text", "doc_id").count()

      val (tText, rText, bText) = measured(Dedup.exact(docs, "text", "doc_id").count())
      val (tDig, rDig, bDig) = measured(Dedup.exactByDigest(docs, "text", "doc_id").count())
      require(rText == rDig, s"representative counts differ: $rText vs $rDig")

      ListMap("bench" -> "digest_dedup", "n_docs" -> n, "corpus_bytes" -> corpusBytes,
        "distinct" -> rDig, "text_sec" -> tText, "text_shuffle_bytes" -> bText,
        "digest_sec" -> tDig, "digest_shuffle_bytes" -> bDig,
        "shuffle_ratio" -> bText.toDouble / math.max(1L, bDig))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Long-document duplicated spans, the regime that decides 100 TB
    * viability for exact-substring dedup: `nDocs` documents × `docLen`
    * tokens, each embedding one shared 200-token boilerplate block at a
    * deterministic offset among otherwise-unique tokens. Contrasts the
    * [[graft.functions.SpanHashes]] prefix-scan kernel (O(docLen) per row,
    * whole-stage codegen) with the naive higher-order formulation
    * (CodegenFallback, O(spans × docLen) interpreted); both produce
    * bit-identical span ids, and the gap grows linearly with document
    * length. Also times the [[graft.ops.Dedup.maskDuplicatedSpans]] apply
    * step. Args: [nDocs] [docLen] [n], default 2000 512 50.
    */
  private def span(spark: SparkSession, args: List[String]): Result = {
    val nDocs = intArg(args, 0, 2000)
    val docLen = intArg(args, 1, 512)
    val n = intArg(args, 2, 50)
    import spark.implicits._

    val boiler = Array.tabulate(200)(i => 1000000 + i)
    val rnd = new scala.util.Random(42)
    val docs = (0 until nDocs).map { i =>
      val uniq = Array.fill(docLen - boiler.length)(rnd.nextInt(1 << 20))
      val at = (i * 37) % (docLen - boiler.length)
      val toks = uniq.take(at) ++ boiler ++ uniq.drop(at)
      (i.toLong, toks)
    }.toDF("doc_id", "tokens").localCheckpoint() // isolate generator cost
    Dedup.exact(
      docs.select(col("doc_id"), col("tokens").cast("string").as("t")),
      "t", "doc_id").count() // JVM/codegen warm

    val (tKernel, rKernel) = timed(
      Dedup.duplicatedSpans(docs, "doc_id", "tokens", n).count())
    val (tMask, rMask) = timed(
      Dedup.maskDuplicatedSpans(docs, "doc_id", "tokens", n)
        .select(sum(col("n_masked"))).collect().head.getLong(0))

    // naive higher-order formulation (the pre-kernel implementation), same
    // downstream plan — bit-identical span ids, O(spans × docLen) eval
    val strToks = transform(col("tokens"), t => t.cast("string"))
    val naiveHashes = transform(
      sequence(lit(1), size(col("tokens")) - (n - 1)),
      i => graft.functions.RollingHash.rolling_hash(
        array_join(slice(strToks, i, lit(n)), " ")))
    val naiveSpans = docs.where(size(col("tokens")) >= n)
      .select(col("doc_id"), posexplode(naiveHashes))
      .select(col("doc_id"), col("pos"), col("col").as("span_h"))
    val naiveDup = naiveSpans.groupBy(col("span_h"))
      .agg(count(lit(1)).as("n_occ")).where(col("n_occ") >= 2)
    val (tNaive, rNaive) = timed(naiveSpans.join(naiveDup, Seq("span_h")).count())

    ListMap("bench" -> "span_dedup_long_docs", "n_docs" -> nDocs, "doc_len" -> docLen,
      "span_n" -> n,
      "kernel_sec" -> tKernel, "kernel_rows" -> rKernel,
      "mask_sec" -> tMask, "masked_tokens" -> rMask,
      "naive_sec" -> tNaive, "naive_rows" -> rNaive,
      "naive_over_kernel" -> tNaive / tKernel)
  }
}
