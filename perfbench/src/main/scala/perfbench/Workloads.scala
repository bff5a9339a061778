package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{FeatureStore, ScalingBench}
import graft.exec.Skew
import graft.fe.{Backfill, Windows}
import graft.fixtures.TokenSeq
import graft.materialize.Materialize
import graft.model.{BatchSource, Entity, Feature, FeatureView, ValueType}
import graft.pit.{AsOfJoin, AsOfSpec}
import graft.table.SnapshotTable

/** One timed operation of an iteration: its kind, wall seconds, whether its
  * output passed the check, and the input rows it covered (for a rate).
  */
final case class Op(kind: String, seconds: Double, ok: Boolean, error: String = "",
    rows: Long = 0L)

/** A benchmark workload. Inputs are generated by [[graft.fixtures.TokenSeq]]
  * from the seed, written once as parquet and reused; every later step reads
  * only those files.
  */
trait Workload {
  def name: String
  /** Kind of the [[Op]] whose median wall is the workload's `op_s`. */
  def primaryOp: String
  /** Kind of the [[Op]] whose median rows per second is `rows_per_s`. */
  def rateOp: String = "iteration"
  /** Writes the inputs for `seed` under `dir` unless they are there. */
  def prepare(spark: SparkSession, dir: String, seed: Long): Unit
  /** The input sizes; inputs written under other sizes are regenerated. */
  def sizes: String
  /** Input metadata and the views or tables the iterations use. */
  def open(spark: SparkSession, dir: String, work: String): Unit
  /** The warm-up: the first iteration, counted in set-up; it pins the
    * expected output where the workload has one.
    */
  def warmUp(spark: SparkSession): Unit
  /** One closed-loop iteration: its timed operations. */
  def iterate(spark: SparkSession, tr: Trace): Seq[Op]
  /** Output checks made outside the timed section; one entry per check. */
  def check(spark: SparkSession): Seq[Op]
  /** Plan and data counters for the traced run (not timed). */
  def counters(spark: SparkSession): Map[String, Double]
  /** The workload's main input, for the scan-only host-ceiling probe. */
  def scanInput(spark: SparkSession): DataFrame

  protected def written(path: String): Boolean = Files.exists(Paths.get(path, "_SUCCESS"))
  protected def writeOnce(path: String)(df: => DataFrame): Unit =
    if (!written(path)) df.write.mode("overwrite").parquet(path)

  /** Multiset equality of two small frames with equal columns, compared on
    * the driver so each side is evaluated once.
    */
  protected def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case xs: scala.collection.Seq[_] => xs.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq
    rows(a) == rows(b)
  }

  /** A fixed hashed subset of probe rows, the same for every seed. */
  protected def probeSubset(id: String): Column = pmod(xxhash64(col(id)), lit(1000)) < 5

  /** The result and wall seconds of `body`. */
  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** As-of Window operators in the executed plans of every query `body`
    * runs, as the engine planned them.
    */
  protected def asOfWindows(spark: SparkSession)(body: => Any): Int = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.PerfbenchShim.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq.map(p => PlanWalk.collect(p) {
      case w if w.nodeName == "Window" && w.toString.contains("__graft_last") => w
    }.size).sum
  }
}

private object PlanWalk extends AdaptiveSparkPlanHelper

object Workloads {
  val all: Seq[Workload] = Seq(PitFeHot, RetrievalWide, BackfillUpsert)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** The headline training-set build: [[graft.ScalingBench.timedJob]] itself
  * (scan → slot compaction → lag/rolling FE → hot-key detection → salted
  * as-of join → late token fetch → checksum) on inputs of its shape. The
  * job is one call, so the traced run splits its stages into layers by the
  * operators they execute.
  */
object PitFeHot extends Workload {
  val name = "pit_fe_hot"
  val primaryOp = "iteration"
  val Sequences = 60000L
  val Entities = 20000
  val ProbesPerEntity = 1

  def sizes = s"$Sequences/$Entities/$ProbesPerEntity"

  private var dir = ""
  private var nSeq = 0L
  private var expected = (0L, 0L)

  def prepare(spark: SparkSession, d: String, seed: Long): Unit = {
    writeOnce(s"$d/sequences")(TokenSeq.generate(spark, Sequences, Entities, seed,
      maxTokens = 64, hotSharePct = ScalingBench.HotSharePct, dupPct = 10))
    writeOnce(s"$d/probes")(TokenSeq.entityProbes(spark, Entities, ProbesPerEntity, seed,
      hotSharePct = ScalingBench.HotSharePct))
  }

  def open(spark: SparkSession, d: String, work: String): Unit = {
    dir = d
    nSeq = spark.read.parquet(s"$dir/sequences").count()
    spark.read.parquet(s"$dir/probes").schema
  }

  // the first run pins the checksum every iteration must reproduce
  def warmUp(spark: SparkSession): Unit = {
    val (_, probeRows, checksum, _) = ScalingBench.timedJob(spark, dir)
    expected = (probeRows, checksum)
  }

  /** Layer of a stage of timedJob, from the operators of its plan segment;
    * every stage of the sampled hot-key detection is `exec`, every stage of
    * the row count ahead of the timed section `scan`.
    */
  private def classify(t: String, whole: String): Option[String] =
    if (whole.contains("Sample")) Some("exec")
    else if (!whole.contains("__graft_last")) Some("scan") // the input row count
    else if (t.contains("__graft_last")) Some("pit")
    else if (t.contains("bit_xor")) Some("sink")
    else if (t.contains("tokens:array")) Some("fetch")
    else if (t.contains("max_by")) Some("scan")
    else if (t.contains("_lag1") || t.contains("_rolling_")) Some("fe")
    else if (t.contains("FileScan") && t.contains("probes")) Some("pit")
    else if (t.contains("FileScan")) Some("scan")
    else None

  def iterate(spark: SparkSession, tr: Trace): Seq[Op] = {
    val (_, probeRows, checksum, wall) =
      tr.span("sink", classify)(ScalingBench.timedJob(spark, dir))
    val ok = (probeRows, checksum) == expected
    Seq(Op("iteration", wall, ok,
      if (ok) "" else s"(probe rows, checksum) ${(probeRows, checksum)} != $expected", nSeq))
  }

  private val Spec = AsOfSpec(Seq("doc_id"), "event_timestamp", "event_timestamp",
    createdTs = Some("created_timestamp"), ttlSeconds = Some(ScalingBench.TtlSeconds),
    features = Seq("seq_id", "n_tok", "n_tok_lag1",
      "slot_tok_sum_rolling_sum", "slot_tok_sum_rolling_cnt"))

  private def probes(spark: SparkSession) = spark.read.parquet(s"$dir/probes")

  /** The compacted, FE-enriched timeline timedJob joins the probes against
    * (its steps 2 and 3): the input of the output check and the counters.
    */
  private def timeline(spark: SparkSession): (DataFrame, DataFrame) = {
    val slotted = spark.read.parquet(s"$dir/sequences")
      .groupBy(col("doc_id"), col("event_timestamp"))
      .agg(
        max_by(struct(col("seq_id"), col("n_tok")),
          struct(col("created_timestamp"), col("seq_id"))).as("__latest"),
        max(col("created_timestamp")).as("created_timestamp"),
        sum(col("n_tok")).as("slot_tok_sum"))
      .select(col("doc_id"), col("event_timestamp"), col("created_timestamp"),
        col("__latest.seq_id").as("seq_id"), col("__latest.n_tok").as("n_tok"),
        col("slot_tok_sum"))
    val enriched = Windows.rolling(
      Windows.lagLead(slotted, Seq("doc_id"), "event_timestamp", "n_tok", n = 1),
      Seq("doc_id"), "event_timestamp", 3600L, "slot_tok_sum")
    (slotted, enriched)
  }

  private def salted(probes: DataFrame, enriched: DataFrame, hot: Seq[Any]) =
    AsOfJoin.windowed(probes, enriched, Spec,
      saltBuckets = if (hot.nonEmpty) ScalingBench.SaltBuckets else 1, hotKeys = hot)

  // an as-of result row depends only on its own probe, so both strategies
  // run on the probe subset; salting stays as in timedJob
  def check(spark: SparkSession): Seq[Op] = {
    val all = probes(spark)
    val hot = Skew.detectHotKeys(all, "doc_id", hotShare = 0.05)
    val (_, enriched) = timeline(spark)
    val (ok, s) = timed {
      val sub = all.where(probeSubset("probe_id"))
      sameRows(salted(sub, enriched, hot), AsOfJoin.rangeJoin(sub, enriched, Spec, rowId = "probe_id"))
    }
    Seq(Op("check.range_join", s, ok, if (ok) "" else "windowed != rangeJoin on probe subset"))
  }

  def counters(spark: SparkSession): Map[String, Double] = {
    val all = probes(spark)
    val hot = Skew.detectHotKeys(all, "doc_id", hotShare = 0.05)
    val (slotted, enriched) = timeline(spark)
    val slots = slotted.count().toDouble
    val hotSlots = if (hot.isEmpty) 0L else enriched.where(col("doc_id").isin(hot: _*)).count()
    Map(
      "scan.compaction_ratio" -> slots / nSeq,
      "exec.hot_keys" -> hot.size.toDouble,
      "pit.salt_replication" ->
        (if (hot.isEmpty) 1.0 else (slots + hotSlots * (ScalingBench.SaltBuckets - 1)) / slots),
      "pit.match_rate" ->
        salted(all, enriched, hot).where(col("seq_id").isNotNull).count() / all.count().toDouble,
      "pit.window_ops" -> asOfWindows(spark)(ScalingBench.timedJob(spark, dir)))
  }

  def scanInput(spark: SparkSession): DataFrame = spark.read.parquet(s"$dir/sequences")
}

/** Feast's user API: `get_historical_features` over a wide view (token
  * arrays, late-materialized path) and a narrow view of one TokenSeq table,
  * with uniform keys, so nothing is salted and no FE runs.
  */
object RetrievalWide extends Workload {
  val name = "retrieval_wide"
  val primaryOp = "iteration"
  val Sequences = 20000L
  val Entities = 10000
  val ProbesPerEntity = 1
  val NarrowTtl = 24L * 3600

  def sizes = s"$Sequences/$Entities/$ProbesPerEntity"

  private var dir = ""
  private var store: FeatureStore = _
  private var expected = (0L, 0L)

  private val Refs = Seq("wide:tokens", "narrow:n_tok", "narrow:source")

  def prepare(spark: SparkSession, d: String, seed: Long): Unit = {
    writeOnce(s"$d/features")(TokenSeq.generate(spark, Sequences, Entities, seed,
      maxTokens = 64))
    writeOnce(s"$d/entities")(TokenSeq.entityProbes(spark, Entities, ProbesPerEntity, seed))
  }

  private def view(name: String, feats: Seq[Feature], ttl: Option[Long]) =
    FeatureView(name, Seq(Entity("doc", ValueType.STRING, Some("doc_id"))), feats,
      BatchSource(s"$dir/features", "event_timestamp", Some("created_timestamp")), ttl)

  def open(spark: SparkSession, d: String, work: String): Unit = {
    dir = d
    store = new FeatureStore(spark, Map(
      "wide" -> view("wide", Seq(Feature("tokens", ValueType.ListOf(ValueType.INT32))), None),
      "narrow" -> view("narrow", Seq(Feature("n_tok", ValueType.INT32),
        Feature("source", ValueType.STRING)), Some(NarrowTtl))))
    entities(spark).schema
  }

  def warmUp(spark: SparkSession): Unit = {
    val row = sink(spark, Trace.off).head()
    expected = (row.getLong(0), row.getLong(1))
  }

  private def entities(spark: SparkSession) = spark.read.parquet(s"$dir/entities")

  private def retrieve(spark: SparkSession, tr: Trace): DataFrame =
    tr.span("feature_store")(store.getHistoricalFeatures(entities(spark), Refs))

  private def sink(spark: SparkSession, tr: Trace): DataFrame =
    retrieve(spark, tr).agg(count(lit(1)).as("rows"),
      expr("bit_xor(xxhash64(probe_id, doc_id, event_timestamp, tokens, n_tok, source))"))

  private def classify(t: String, whole: String): Option[String] =
    if (t.contains("__graft_last")) Some("pit")
    else if (t.contains("bit_xor")) Some("sink")
    else if (t.contains("tokens:array") || t.contains("__graft_rowid") ||
      t.contains("__graft_ent_rowid")) Some("fetch")
    else if (t.contains("FileScan")) Some("feature_store")
    else None

  def iterate(spark: SparkSession, tr: Trace): Seq[Op] = {
    val (row, wall) = timed {
      val s = sink(spark, tr)
      tr.span("sink", classify)(s.head())
    }
    val got = (row.getLong(0), row.getLong(1))
    val ok = got == expected
    Seq(Op("iteration", wall, ok,
      if (ok) "" else s"(rows, checksum) $got != warm-up's $expected", got._1))
  }

  def check(spark: SparkSession): Seq[Op] = {
    val ent = entities(spark)
    val sub = ent.where(probeSubset("probe_id"))
    val out = retrieve(spark, Trace.off).where(probeSubset("probe_id")).cache()
    val feats = spark.read.parquet(s"$dir/features")
    try {
      val (narrowOk, s1) = timed {
        val spec = AsOfSpec(Seq("doc_id"), "event_timestamp", "event_timestamp",
          Some("created_timestamp"), Some(NarrowTtl), Seq("n_tok", "source"))
        val oracle = AsOfJoin.rangeJoin(sub, feats, spec, rowId = "probe_id")
        sameRows(out.select("probe_id", "n_tok", "source"),
          oracle.select("probe_id", "n_tok", "source"))
      }
      // The wide path breaks a full (event, created) tie by row hash and
      // rangeJoin by the largest payload; both are valid picks, so a
      // different array is accepted only where such a tie exists.
      val (wideOk, s2) = timed {
        val spec = AsOfSpec(Seq("doc_id"), "event_timestamp", "event_timestamp",
          Some("created_timestamp"), None, Seq("tokens", "f_ts", "f_created"))
        val oracle = AsOfJoin.rangeJoin(sub,
          feats.withColumn("f_ts", col("event_timestamp"))
            .withColumn("f_created", col("created_timestamp")), spec, rowId = "probe_id")
        val both = out.select(col("probe_id"), col("tokens").as("got"))
          .join(oracle.select(col("probe_id"), col("doc_id"), col("tokens").as("want"),
            col("f_ts"), col("f_created")), Seq("probe_id"))
        val ties = feats.groupBy("doc_id", "event_timestamp", "created_timestamp").count()
          .where(col("count") > 1)
        val unexplained = both.where(!(col("got") <=> col("want")))
          .join(ties, both("doc_id") === ties("doc_id") &&
            col("f_ts") === col("event_timestamp") && col("f_created") === col("created_timestamp"),
            "left_anti")
        both.count() == sub.count() && unexplained.isEmpty
      }
      Seq(Op("check.range_join.narrow", s1, narrowOk,
          if (narrowOk) "" else "narrow view != rangeJoin on probe subset"),
        Op("check.range_join.wide", s2, wideOk,
          if (wideOk) "" else "wide view != rangeJoin on probe subset"))
    } finally out.unpersist()
  }

  def counters(spark: SparkSession): Map[String, Double] = {
    val out = retrieve(spark, Trace.off)
    val row = out.agg(count(lit(1)), count(col("tokens"))).head()
    Map(
      "pit.match_rate" -> row.getLong(1).toDouble / row.getLong(0),
      "pit.window_ops" -> asOfWindows(spark)(sink(spark, Trace.off).head()))
  }

  def scanInput(spark: SparkSession): DataFrame = spark.read.parquet(s"$dir/features")
}

/** The write path: a resumable backfill into a fresh snapshot table, one
  * grid interval per call, then late batches through the bucketed upsert,
  * then closed-loop online lookups over the table. No as-of join runs.
  */
object BackfillUpsert extends Workload {
  val name = "backfill_upsert"
  val primaryOp = "upsert"
  override val rateOp = "backfill"
  val Sequences = 50000L
  val Entities = 5000
  val Intervals = 3
  val Batches = 2
  val BatchRows = 2000L
  val Lookups = 2
  val LookupKeys = 200L
  val Buckets = 16

  private val Cols = Seq("doc_id", "event_timestamp", "created_timestamp", "seq_id", "n_tok", "source")
  private val Keys = Seq("doc_id")
  private val SpanSeconds = Sequences / Entities * 60L
  private val Start = new Timestamp(TokenSeq.AnchorEpoch * 1000L)
  private val End = new Timestamp((TokenSeq.AnchorEpoch + SpanSeconds) * 1000L)
  private val AsOf = new Timestamp((TokenSeq.AnchorEpoch + SpanSeconds + 3600L) * 1000L)

  def sizes = s"$Sequences/$Entities/$Batches/$BatchRows/$Lookups/$LookupKeys"

  private var dir = ""
  private var work = ""
  private var iteration = 0
  private var lastTable: Option[SnapshotTable] = None
  private var intervalRows: Seq[Long] = Nil

  def prepare(spark: SparkSession, d: String, seed: Long): Unit = {
    writeOnce(s"$d/history")(TokenSeq.generate(spark, Sequences, Entities, seed,
      maxTokens = 16).select(Cols.map(col): _*))
    (0 until Batches).foreach { i =>
      // late rows land around the end of the history: some beat the
      // stored latest row of their key, some lose to it
      val shift = expr(s"INTERVAL ${SpanSeconds - 120 + 30 * i} SECONDS")
      writeOnce(s"$d/batch$i")(TokenSeq.generate(spark, BatchRows, Entities, seed * 31 + i + 1,
          maxTokens = 16)
        .withColumn("event_timestamp", col("event_timestamp") + shift)
        .withColumn("created_timestamp", col("created_timestamp") + shift)
        .withColumn("seq_id", col("seq_id") + lit(Sequences * (i + 1)))
        .select(Cols.map(col): _*).coalesce(1))
    }
    writeOnce(s"$d/keys")(spark.range(Lookups * LookupKeys)
      .select((col("id") / LookupKeys).cast("int").as("batch"),
        concat(lit("doc_"), pmod(xxhash64(col("id"), lit(seed)), lit(Entities.toLong))
          .cast("string")).as("doc_id"))
      .coalesce(1))
  }

  private def history(spark: SparkSession) = spark.read.parquet(s"$dir/history")
  private def batch(spark: SparkSession, i: Int) = spark.read.parquet(s"$dir/batch$i")

  def open(spark: SparkSession, d: String, w: String): Unit = {
    dir = d
    work = s"$w/backfill"
    val h = history(spark)
    intervalRows = Backfill.grid(Start, End, SpanSeconds / Intervals).map { case (lo, hi) =>
      h.where(col("event_timestamp") >= lit(lo) && col("event_timestamp") < lit(hi)).count()
    }
  }

  def warmUp(spark: SparkSession): Unit = {
    iterate(spark, Trace.off).find(!_.ok).foreach(o => throw new IllegalStateException(o.error))
  }

  def iterate(spark: SparkSession, tr: Trace): Seq[Op] = {
    lastTable.foreach(t => Main.deleteTree(Paths.get(t.root).getParent))
    iteration += 1
    val root = s"$work/it$iteration"
    val table = SnapshotTable(s"$root/table")
    lastTable = Some(table)
    val h = history(spark)
    val grid = Backfill.grid(Start, End, SpanSeconds / Intervals)
    val backfills = grid.zip(intervalRows).map { case ((lo, hi), rows) =>
      val (done, s) = timed(tr.span("fe.backfill") {
        Backfill.run(spark, h, Keys, "event_timestamp", Some("created_timestamp"),
          lo, hi, SpanSeconds / Intervals, table, s"$root/checkpoint.jsonl")
      })
      val ok = done.size == 1 && done.head.rows > 0
      Op("backfill", s, ok, if (ok) "" else s"backfill of [$lo, $hi) returned $done", rows)
    }
    val upserts = (0 until Batches).map { i =>
      val parent = tr.span("table.meta")(table.currentSnapshot)
      val (snap, s) = timed(tr.span("materialize.upsert") {
        Materialize.upsertLatestBucketed(table, batch(spark, i), Keys, "event_timestamp",
          Some("created_timestamp"), nBuckets = Buckets)
      })
      val ok = parent.forall(p => snap.parentId.contains(p.snapshotId))
      Op("upsert", s, ok, if (ok) "" else s"snapshot ${snap.snapshotId} has the wrong parent")
    }
    val lookups = (0 until Lookups).map { j =>
      val (rows, s) = timed {
        val cur = tr.span("table.read")(table.read(spark))
        tr.span("materialize.lookup") {
          val keys = spark.read.parquet(s"$dir/keys").where(col("batch") === j).select("doc_id")
          Materialize.lookupLatest(cur, keys, Keys, "event_timestamp", "n_tok", AsOf,
            ttlSeconds = Some(24L * 3600), createdTs = Some("created_timestamp")).collect()
        }
      }
      val ok = rows.length == LookupKeys && rows.forall(r => !r.isNullAt(r.fieldIndex("status")))
      Op("lookup", s, ok, if (ok) "" else s"lookup $j returned ${rows.length} rows")
    }
    val snaps = tr.span("table.meta")(table.history)
    val chained = snaps.size == Intervals + Batches
    backfills ++ upserts ++ lookups :+
      Op("history", 0.0, chained, if (chained) "" else s"history has ${snaps.size} snapshots")
  }

  /** Bucketed upserts over the last backfilled interval equal one
    * latest-per-key resolution of that interval plus every late batch.
    */
  def check(spark: SparkSession): Seq[Op] = {
    val table = lastTable.get
    val (ok, s) = timed {
      val (lo, hi) = Backfill.grid(Start, End, SpanSeconds / Intervals).last
      val last = Materialize.pullLatest(history(spark), Keys, "event_timestamp",
        Some("created_timestamp"), lo, hi)
      val all = (0 until Batches).map(batch(spark, _)).foldLeft(last)(_ unionByName _)
      sameRows(table.read(spark).select(Cols.map(col): _*),
        Materialize.latestPerKey(all, Keys, "event_timestamp", Some("created_timestamp"))
          .select(Cols.map(col): _*))
    }
    Seq(Op("check.latest_per_key", s, ok, if (ok) "" else "final snapshot != latestPerKey"))
  }

  def counters(spark: SparkSession): Map[String, Double] = {
    // rows in files new to each upsert's snapshot, per batch row
    val snaps = lastTable.get.history.reverse.drop(Intervals)
    val parents = lastTable.get.history.reverse.drop(Intervals - 1)
    val rewritten = snaps.zip(parents).map { case (s, p) =>
      val old = p.files.map(_.path).toSet
      s.files.filterNot(f => old.contains(f.path)).map(_.rows).sum
    }.sum
    Map("table.rows_rewritten_ratio" -> rewritten.toDouble / (Batches * BatchRows))
  }

  def scanInput(spark: SparkSession): DataFrame = history(spark)
}
