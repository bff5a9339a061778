package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-quality evidence dump: formatted physical plans for the flagship
  * operators, written to PLANS.md. The points to verify by eye:
  *
  *  - feature scans show `PushedFilters` (time-range predicates reach
  *    parquet) and a pruned `ReadSchema` (no unrequested columns);
  *  - the windowed as-of join has exactly ONE exchange (hashpartitioning on
  *    the entity keys) feeding one in-partition sort — no join blow-up node;
  *  - aggregates show partial/final HashAggregate pairs (map-side combine);
  *  - scans/joins sit inside WholeStageCodegen spans.
  */
object Plans extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = LocalSession(cores = 4) // PLANS.md records 4-partition plans

    val upsertWrite = "the last upsert's merge-and-write: the latest-per-key aggregate, then " +
      "ONE REPARTITION_BY_NUM exchange on (keys, bucket count) straight into the parquet " +
      "write — no Sort, each write task one bucket"
    val picks = Seq(
      "q01_pit_asof" -> "windowed as-of join: one exchange + one sort, no row explosion",
      "q12_multi_view" -> "two views on user_id as two sides of ONE as-of window (one window per key set): one user_id exchange, one sort, one Window computing __graft_last and __graft_last_1, each side's TTL checked after it",
      "q03_pull_latest" -> "time-bounded latest: range filter pushed into the parquet scan",
      "q35_late_asof" -> "late-materialized as-of: ONE narrow window (keys, ts, created, rowid), then a shuffle-hash payload fetch on the row id — the window is evaluated once",
      "q05_tumbling" -> "tumbling agg: partial/final HashAggregate (map-side combine)",
      "q21_rolling" -> "range-frame rolling window: sum and count in ONE Window over ONE Sort on the event time itself (cast(ts as timestamp), ts being NTZ here), with an interval frame of 3600 s (1 hour) PRECEDING to CURRENT ROW",
      "q17_knn" -> "brute-force top-k: broadcast of the query side, codegen'd cosine",
      "q41_fs_tokens" -> "facade wide-payload routing, one as-of window per key set: ONE as-of window over (lang, fts, src_doc, rowid), the rowid hashed from the scan position (_metadata.file_path, row_index); `tokens` is read by ONE scan and fetched after the window by a shuffle-hash join on the rowid — no aggregate, no sort of the payload, three exchanges",
      "q47_two_wide_views" -> "facade late materialization over TWO array views, one as-of window per key set: the views key on lang and on source, so each windows the accumulated entity frame against its narrow (key, ts, created, rowid) projection — TWO as-of windows, no array in any Window/Sort input; both payloads are fetched after the last window by one shuffle-hash join each, every array column read by ONE scan",
      "q39_ann_ivf" -> "IVF assignment by the broadcast centroid kernel: one MapPartitions scan per side (corpus best cell, query nProbe cells), no join, no window, no xN expansion and no centroid literals in the plan before the probe equi-join",
      "q37_pack_sequences" -> "two-level packing: per-(lang, shard) cumsum windows + tiny offsets join",
      "q48_hash_split" -> "deterministic hash split: pure codegen'd projection, zero shuffles/exchanges",
      "q65_stratified" -> "exact stratified sample: ONE exchange on the stratum key — the rank window and the group-count window run in the same partitioning, then a codegen'd integral-div filter",
      "q66_token_budget" -> "token-budget fill: ONE exchange on the source key, running-sum window in that partitioning, codegen'd budget filter",
      "q67_composite_asof" -> "composite-key as-of: same single-exchange windowed shape as q01 with a two-column hash key — no extra shuffle for the wider key",
      "q50_components" -> "near-dup clustering: below the size gate the collected union-find result is a LocalTableScan (broadcasts into downstream joins); above it the large-star/small-star contraction runs (O(log^2 n) rounds regardless of diameter, BENCH/DEDUP.md) — forced-path specs assert star = hash-min = union-find",
      "q60_dup_spans" -> "duplicated-span dedup: span_hashes computed in the codegen'd scan projection (one native call per row, no higher-order lambdas), bounded posexplode to 8-byte longs, partial/final count agg, occurrences equi-joined to the small duplicated-hash side — corpus never self-joins",
      "q63_decontaminate_bloom" -> "Bloom-prefiltered decontamination: might_contain_61(bitmap) sits in the Filter directly above the corpus shingle Generate — rows failing the probe never reach the exact-verify join's exchange; output identical to q44",
      "q64_shuffle_batches" -> "deterministic shuffle + length batching: mix61 order key and bucket in the scan projection, per-(bucket, shard) ROW_NUMBER windows (buckets × shards concurrent tasks), tiny offsets frame joined back — no global sort",
      "q69_dsir_weights" -> "DSIR importance weights: the corpus text is scanned ONCE into a cached (doc, bucket) count frame (InMemoryTableScan everywhere downstream); BOTH bag-of-words models come from a single 64-row aggregation over it (conditional sum), the log-ratio table broadcasts back, and the final per-doc sum is integer arithmetic",
      "q79_semdedup_pairs" -> "SemDeDup: cell assignment by the broadcast centroid kernel, checkpointed once (the Scan ExistingRDD on both sides), NARROW (id, cell) self-join on the cell key, vectors fetched only for surviving candidates, codegen'd cosine verify — embeddings never ride the candidate exchange",
      "q83_pipeline" -> "full curation pipeline (gopher filter -> exact dedup -> hash split -> token budget) composed as ONE plan: the quality filter and the split are scan-stage/codegen projections (no shuffle of their own), the dedup is one content-hash aggregate, the budget one per-source window — TWO shuffles end to end (the dedup aggregate and the window; the dedup-ids fetch is a broadcast join)",
      "q77_online_upsert" -> s"$upsertWrite; the derived count here is one bucket (SinglePartition)",
      "q85_upsert_bucketed" -> s"$upsertWrite; 8 buckets",
      "q82_stream_materialize" -> s"$upsertWrite; the streaming sink's last micro-batch, one bucket")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship operators\n\n")
    sb.append(s"Generated by `graft.Plans` against `$sfDir` (regenerate: " +
      "`runMain graft.Plans <sfDir> PLANS.md`). What to check per plan is " +
      "noted inline; see Plans.scala scaladoc for the global checklist.\n")
    picks.foreach { case (name, note) =>
      val (df, ran) = queryExecutions(spark)(SparkEntry.queries(name)(spark, sfDir))
      // a query that writes while it is built (the upserts) shows its last write
      val qe =
        if (upsertWrites(name)) ran.filter(qe => isWrite(qe.executedPlan)).last
        else df.queryExecution
      sb.append(s"\n## $name — $note\n\n```\n")
      // the plan SHAPE is the evidence: truncate literal binary blobs (e.g.
      // q63's Bloom bitmap), and mask what changes from run to run — JVM
      // lambda identities, exchange plan ids (a JVM-wide counter that jobs
      // run by earlier queries advance) and the random suffix of temp-dir
      // sources — so a regeneration differs only where a plan did
      val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        .replaceAll("0x[0-9A-Fa-f]{64}[0-9A-Fa-f]+",
          "0x<binary literal truncated>")
        .replaceAll("""\$\$Lambda\S*@[0-9a-f]+""", "\\$\\$Lambda<masked>")
        .replaceAll("""(/graft_\w*?)\d{6,}""", "$1<masked>")
        .replaceAll("""plan_id=\d+""", "plan_id=<masked>")
        .replaceAll("""\b\p{XDigit}{8}(-\p{XDigit}{4}){3}-\p{XDigit}{12}\b""", "<uuid>")
      sb.append(plan)
      sb.append("```\n")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote $out")
    spark.stop()
  }

  private val upsertWrites = Set("q77_online_upsert", "q85_upsert_bucketed", "q82_stream_materialize")

  /** `body`'s result and the executions of the queries it ran, writes
    * included, in the order they finished.
    */
  def queryExecutions[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val done = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = done.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result =
      try {
        val r = body
        // listener events arrive asynchronously, on the bus thread
        org.apache.spark.Listeners.drain(spark.sparkContext)
        r
      } finally spark.listenerManager.unregister(listener)
    (result, done.asScala.toSeq)
  }

  /** Whether an executed plan writes files. */
  def isWrite(plan: SparkPlan): Boolean =
    find(plan)(_.isInstanceOf[DataWritingCommandExec]).isDefined
}
