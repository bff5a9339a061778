package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** One benchmark run of one workload, in one JVM and one client thread.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --out FILE
  *
  * Untraced (`--trace 0`): after the warm-up and a few settling
  * iterations, the closed loop runs at local[4] for S seconds and the
  * end-to-end metrics are written to FILE. Traced (`--trace 1`):
  * untraced and traced iterations alternate at local[4] for half of S,
  * the per-layer metrics come from the traced ones, the untraced loop runs
  * again at local[1] for 30% of S (same inputs and partitions) for the
  * scaling efficiency, and a scan-only probe at local[4] and local[1]
  * measures the host's own scaling ceiling.
  */
object Main {
  val Cores = 4
  val ShufflePartitions = 8
  val Opens = 3
  val MinIters = 2
  /** Seconds of checked iterations between the warm-up and the measured
    * loop that no metric uses: a run's first iterations are still 10–25%
    * slower than its later ones and settle after about four.
    */
  val SettleSeconds = 4.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String)

  private def parse(a: Seq[String]): Args = {
    val m = a.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-local$cores")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def now = System.nanoTime()

  /** One closed-loop iteration: its operations and wall seconds. */
  private final case class Iter(ops: Seq[Op], wallS: Double)

  /** Closed loop: the next iteration starts when the previous one ends. */
  private def loop(w: Workload, s: SparkSession, seconds: Double, min: Int,
      trace: Trace): Seq[Iter] = {
    val deadline = now + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Iter]
    while (out.size < min || now < deadline) {
      val t0 = now
      val ops = try w.iterate(s, trace) catch {
        case e: Exception =>
          Seq(Op("iteration", (now - t0) / 1e9, ok = false, e.toString.take(300)))
      }
      out += Iter(ops, (now - t0) / 1e9)
    }
    out.toSeq
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median plus the highest of p90/p99/p99.9 that has at least ten samples
    * beyond it, with the sample count.
    */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    val tail = Seq(90.0, 99.0, 99.9).filter(p => s.size * (1 - p / 100) >= 10).lastOption
    Map("median" -> median(s), "n" -> s.size) ++ tail.map { p =>
      val i = math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1)
      s"p$p".replace(".0", "") -> s(i)
    }
  }

  /** Median rows per second over the workload's rate operations. */
  private def rate(w: Workload, its: Seq[Iter]): Double =
    median(its.flatMap(_.ops).filter(o => o.kind == w.rateOp && o.ok && o.seconds > 0)
      .map(o => o.rows / o.seconds))

  private def scanProbe(w: Workload, s: SparkSession): Double = {
    val in = w.scanInput(s)
    val cols = in.columns.map(c => s"`$c`").mkString(", ")
    val df = Seq.fill(4)(in).reduce(_ union _)
    median((0 until 3).map { _ =>
      val t0 = now
      df.select(expr(s"bit_xor(xxhash64($cols))")).head()
      (now - t0) / 1e9
    })
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val w = Workloads.byName(a.workload).getOrElse(sys.error(s"unknown workload ${a.workload}"))
    val inputs = s"${a.data}/${w.name}-seed${a.seed}"
    Files.createDirectories(Paths.get(a.work))

    val t0 = now
    var spark = session(Cores, a.work)
    val sessionS = (now - t0) / 1e9
    val tp = now
    val stamp = Paths.get(inputs, "SIZES")
    if (Files.exists(Paths.get(inputs)) &&
        !(Files.exists(stamp) && Files.readString(stamp) == w.sizes))
      deleteTree(Paths.get(inputs))
    w.prepare(spark, inputs, a.seed) // not part of set-up: input generation
    Files.writeString(stamp, w.sizes)
    val prepareS = (now - tp) / 1e9
    // set-up = session start + the median of several opens + the warm-up
    val opens = (0 until (if (a.trace) 1 else Opens)).map { _ =>
      val t = now
      w.open(spark, inputs, a.work)
      (now - t) / 1e9
    }
    val t1 = now
    w.warmUp(spark)
    val warmS = (now - t1) / 1e9

    val ops = mutable.ArrayBuffer.empty[Op]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, Any]

    if (!a.trace) {
      val settle = loop(w, spark, SettleSeconds, 1, Trace.off)
      ops ++= settle.flatMap(_.ops)
      val mem = new TaskMemory
      spark.sparkContext.addSparkListener(mem)
      val hi = loop(w, spark, a.seconds, MinIters, Trace.off)
      org.apache.spark.PerfbenchShim.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(mem)
      ops ++= hi.flatMap(_.ops) ++ w.check(spark)

      stop(spark)
      val primary = hi.flatMap(_.ops).filter(o => o.kind == w.primaryOp && o.ok)
      val setupS = sessionS + median(opens) + warmS
      metrics("setup_s") = (setupS, "s")
      metrics("rows_per_s") = (rate(w, hi), "rows/s")
      metrics("op_s") = (median(primary.map(_.seconds)), "s")
      metrics("exec_mem_mb") = (mem.totalMb / hi.size, "MB")
      val named = mutable.LinkedHashMap.empty[String, Any]
      named(RateName(w.name)._1) = Map("value" -> rate(w, hi), "unit" -> RateName(w.name)._2)
      hi.flatMap(_.ops).groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
        named(s"${k}_s") = summary(os.map(_.seconds)) ++ Map("unit" -> "s")
      }
      named("setup_s") = Map("value" -> setupS, "unit" -> "s",
        "session_s" -> sessionS, "opens_s" -> opens, "warm_up_s" -> warmS)
      detail("named") = named
      detail("iterations") = Map("n" -> hi.size, "wall_s" -> hi.map(_.wallS),
        "settle_wall_s" -> settle.map(_.wallS))
    } else {
      val counters = w.counters(spark)
      // traced and untraced iterations alternate, so both see the same warm-up
      val tr = Trace.on(spark)
      val sc = spark.sparkContext
      val perIter = mutable.ArrayBuffer.empty[Map[String, Double]]
      val untraced = mutable.ArrayBuffer.empty[Iter]
      val traced = mutable.ArrayBuffer.empty[Iter]
      val deadline = now + (a.seconds * 0.5 * 1e9).toLong
      while (traced.size < MinIters || now < deadline) {
        untraced ++= loop(w, spark, 0, 1, Trace.off)
        tr.reset()
        sc.addSparkListener(tr)
        traced ++= loop(w, spark, 0, 1, tr)
        sc.removeSparkListener(tr)
        val walls = tr.spanWalls
        perIter += tr.layerMetrics() ++ Map(
          "table.meta_s" -> walls.getOrElse("table.meta", Nil).sum,
          "feature_store.call_s" -> walls.getOrElse("feature_store", Nil).sum)
      }
      ops ++= untraced.flatMap(_.ops) ++ traced.flatMap(_.ops) ++ w.check(spark)
      val scan4 = scanProbe(w, spark)
      stop(spark)
      // the same loop at local[1], on the same inputs and partitions; the
      // JVM's compiled code is already warm
      spark = session(1, a.work)
      w.open(spark, inputs, a.work)
      val lo = loop(w, spark, a.seconds * 0.3, 1, Trace.off)
      ops ++= lo.flatMap(_.ops)
      val scan1 = scanProbe(w, spark)
      stop(spark)

      val layer = perIter.flatMap(_.keys).distinct.map(k =>
        k -> median(perIter.flatMap(_.get(k)).toSeq)).toMap
      val wall = (its: collection.Seq[Iter]) => median(its.map(_.wallS).toSeq)
      val all = layer ++ counters ++ Map(
        "feature_store.input_mb" -> (if (w.name == "retrieval_wide") layer("run.input_mb") else 0.0),
        "trace_overhead_s" -> (wall(traced) - wall(untraced)),
        "scaling_eff_1to4" -> rate(w, untraced.toSeq) / rate(w, lo) / Cores,
        "host.scan_eff_1to4" -> scan1 / scan4 / Cores)
      PerLayer.foreach { case (name, unit) => metrics(name) = (all.getOrElse(name, 0.0), unit) }
      detail("scaling") = Map("rate_local4" -> rate(w, untraced.toSeq),
        "rate_local1" -> rate(w, lo),
        "scan_local4_s" -> scan4, "scan_local1_s" -> scan1)
      // zero on every workload at this commit, so not a listed metric
      detail("health") = Map("run.spill_mb" -> layer("run.spill_mb"),
        "run.tasks_failed" -> layer("run.tasks_failed"))
      detail("iterations") = Map("untraced" -> untraced.size, "traced" -> traced.size,
        "local1" -> lo.size)
    }

    val failed = ops.filterNot(_.ok)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> memTotalMb(),
      "correct" -> failed.isEmpty, "attempted" -> ops.size, "failed" -> failed.size,
      "error_rate" -> failed.size.toDouble / ops.size,
      "errors" -> failed.map(o => s"${o.kind}: ${o.error}").distinct.take(20),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "prepare_s" -> prepareS, "total_s" -> (now - t0) / 1e9
    ) ++ detail
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.write(Paths.get(a.out), json.getBytes("UTF-8"))
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }

  private def memTotalMb(): Double =
    scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Each workload's headline rate, by the name its documentation uses. */
  val RateName: Map[String, (String, String)] = Map(
    "pit_fe_hot" -> ("pit_fe_seq_per_s", "seq/s"),
    "retrieval_wide" -> ("retrieval_rows_per_s", "rows/s"),
    "backfill_upsert" -> ("backfill_rows_per_s", "rows/s"))

  // read 0 on every workload: the sink's final aggregate and the lazy
  // table read write no shuffle
  private val Unmoved = Set("sink.shuffle_write_mb", "table.read.shuffle_write_mb")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val PerLayer: Seq[(String, String)] =
    Trace.Layers.flatMap(l => Seq(s"$l.wall_s" -> "s", s"$l.cpu_s" -> "s",
      s"$l.shuffle_write_mb" -> "MB", s"$l.skew" -> "ratio") ++
      (if (Trace.CallLayers.contains(l)) Seq(s"$l.driver_s" -> "s") else Nil))
      .filterNot { case (n, _) => Unmoved.contains(n) } ++ Seq(
      "scan.compaction_ratio" -> "ratio", "exec.hot_keys" -> "count",
      "pit.salt_replication" -> "ratio", "pit.window_ops" -> "count",
      "pit.match_rate" -> "ratio", "feature_store.call_s" -> "s",
      "feature_store.input_mb" -> "MB", "table.meta_s" -> "s",
      "table.rows_rewritten_ratio" -> "ratio", "run.gc_s" -> "s",
      "run.fetch_wait_s" -> "s", "run.shuffle_read_mb" -> "MB",
      "trace_overhead_s" -> "s", "scaling_eff_1to4" -> "ratio", "host.scan_eff_1to4" -> "ratio")
}
