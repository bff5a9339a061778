package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spans and layer attribution, recorded entirely from benchmark code.
  *
  * A span wraps one public call into the engine and names its layer. Jobs
  * started inside a span carry the span id as a local property. Calls that
  * only build a lazy plan own no jobs; their stages run later inside the
  * action's span. For such an action span a classifier looks at the
  * physical operators a stage executed (the plan segment between two
  * exchanges, found through the stage's SQL metric accumulators) and at
  * the plan of its whole SQL execution, and names the layer that owns
  * them. Stages of the unchanged plan are thus split
  * into layers without inserting any barrier into the plan.
  *
  * `Trace.off` records nothing; the untraced, end-to-end measurement uses it.
  */
final class Trace private (spark: Option[SparkSession]) extends SparkListener {
  import Trace._

  private final case class SpanRec(layer: String, classify: Classifier,
      start: Long, var end: Long = 0L)
  private final case class JobRec(span: Option[Int], exec: Option[Long], start: Long,
      var end: Long = 0L)
  private final class StageRec(val stageId: Int) {
    var jobId = -1
    var wallMs = 0L
    var accIds: Seq[Long] = Nil
    val tasks = mutable.ArrayBuffer.empty[TaskRec]
  }

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stages = TrieMap.empty[(Int, Int), StageRec]
  private val execSpan = TrieMap.empty[Long, Int]
  // plan segment of every SQL metric accumulator, and each segment's text
  private val accSeg = TrieMap.empty[Long, Int]
  private val segText = TrieMap.empty[Int, String]
  private val execText = TrieMap.empty[Long, String]
  private val nextSeg = new java.util.concurrent.atomic.AtomicInteger()

  /** Wall seconds of every finished span, by layer, since the last reset. */
  def spanWalls: Map[String, Seq[Double]] = synchronized {
    spans.toSeq.groupBy(_.layer).map { case (k, v) => k -> v.map(s => (s.end - s.start) / 1e9) }
  }

  def span[T](layer: String, classify: Classifier = (_, _) => None)(body: => T): T =
    spark.fold(body)(s => recorded(s.sparkContext, layer, classify)(body))

  private def recorded[T](sc: org.apache.spark.SparkContext, layer: String,
      classify: Classifier)(body: => T): T = {
    val id = synchronized { spans += SpanRec(layer, classify, System.nanoTime()); spans.size - 1 }
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      synchronized { spans(id).end = System.nanoTime() }
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    (span, exec) match {
      case (Some(s), Some(x)) => execSpan.putIfAbsent(x, s)
      case _ =>
    }
    jobs(e.jobId) = JobRec(span.orElse(exec.flatMap(execSpan.get)), exec, System.nanoTime())
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = System.nanoTime())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val rec = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageRec(e.stageId))
    val t =
      if (m == null) TaskRec(e.taskInfo.duration, 0, 0, 0, 0, 0, 0, 0, failed = !e.taskInfo.successful)
      else TaskRec(e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.inputMetrics.bytesRead,
        failed = !e.taskInfo.successful)
    rec.synchronized(rec.tasks += t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val rec = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageRec(i.stageId))
    rec.jobId = stageJob.getOrElse(i.stageId, -1)
    rec.wallMs = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    rec.accIds = i.accumulables.keys.toSeq
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      index(s.executionId, s.sparkPlanInfo, nextSeg.incrementAndGet())
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      index(u.executionId, u.sparkPlanInfo, nextSeg.incrementAndGet())
    case _ =>
  }

  private def index(exec: Long, p: SparkPlanInfo, seg: Int): Unit = {
    val boundary = Boundaries.exists(b => p.nodeName.startsWith(b) || p.nodeName.endsWith(b))
    val text = "\n" + p.nodeName + " " + p.simpleString
    execText(exec) = execText.getOrElse(exec, "") + text
    if (!boundary) {
      segText(seg) = segText.getOrElse(seg, "") + text
      p.metrics.foreach(m => accSeg(m.accumulatorId) = seg)
    }
    p.children.foreach(c => index(exec, c, if (boundary) nextSeg.incrementAndGet() else seg))
  }

  /** Plan text of the segment a stage executed: the segment owning most of
    * the stage's updated SQL metrics.
    */
  private def stageText(r: StageRec): String = {
    val segs = r.accIds.flatMap(accSeg.get)
    if (segs.isEmpty) ""
    else segText.getOrElse(segs.groupBy(identity).maxBy(_._2.size)._1, "")
  }

  /** Wait until every event of the finished jobs has reached this listener. */
  def drain(): Unit = spark.foreach(s => org.apache.spark.PerfbenchShim.drain(s.sparkContext))

  def reset(): Unit = synchronized {
    drain()
    spans.clear(); jobs.clear(); stageJob.clear(); stages.clear(); execSpan.clear()
  }

  /** Per-layer metrics of everything recorded since the last reset. Every
    * known layer is present; a layer the workload does not touch reads 0.
    */
  def layerMetrics(): Map[String, Double] = synchronized {
    drain()
    val byLayer = mutable.Map.empty[String, mutable.ArrayBuffer[StageRec]]
    stages.values.foreach { r =>
      val span = jobs.get(r.jobId).flatMap(_.span).map(spans)
      val layer = span match {
        case Some(s) =>
          val whole = jobs.get(r.jobId).flatMap(_.exec).flatMap(execText.get).getOrElse("")
          s.classify(stageText(r), whole).getOrElse(s.layer)
        case None => "sink"
      }
      byLayer.getOrElseUpdate(layer, mutable.ArrayBuffer.empty) += r
    }
    // driver time: each span's wall not covered by any job started in it
    val driverS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.indices.foreach { i =>
      val s = spans(i)
      val ivs = jobs.values.filter(_.span.contains(i)).map(j =>
        (math.max(j.start, s.start), math.min(if (j.end == 0L) s.end else j.end, s.end)))
        .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
      var covered = 0L
      var cur = (0L, 0L)
      ivs.foreach { case (a, b) =>
        if (a > cur._2) { covered += cur._2 - cur._1; cur = (a, b) }
        else cur = (cur._1, math.max(cur._2, b))
      }
      covered += cur._2 - cur._1
      driverS(s.layer) += math.max(0L, s.end - s.start - covered) / 1e9
    }
    val out = mutable.LinkedHashMap.empty[String, Double]
    Layers.foreach { l =>
      val rs = byLayer.getOrElse(l, Nil).toSeq
      val ts = rs.flatMap(_.tasks)
      out(s"$l.wall_s") = rs.map(_.wallMs).sum / 1e3 + driverS(l)
      out(s"$l.cpu_s") = ts.map(_.cpuNs).sum / 1e9
      out(s"$l.shuffle_write_mb") = ts.map(_.shWrite).sum / 1e6
      out(s"$l.skew") =
        if (rs.isEmpty) 0.0 else skewOf(rs.maxBy(_.wallMs).tasks.map(_.durMs).toSeq)
      if (CallLayers.contains(l)) out(s"$l.driver_s") = driverS(l)
    }
    val all = stages.values.flatMap(_.tasks).toSeq
    out("run.gc_s") = all.map(_.gcMs).sum / 1e3
    out("run.spill_mb") = all.map(_.spill).sum / 1e6
    out("run.fetch_wait_s") = all.map(_.fetchWaitMs).sum / 1e3
    out("run.shuffle_read_mb") = all.map(_.shRead).sum / 1e6
    out("run.tasks_failed") = all.count(_.failed).toDouble
    out("run.input_mb") = all.map(_.inBytes).sum / 1e6
    out.toMap
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  /** Names the layer of a stage of an action span from the plan text of
    * the stage's own segment and that of its whole SQL execution.
    */
  type Classifier = (String, String) => Option[String]

  /** Layers reported by every traced run, in output order. */
  val Layers: Seq[String] = Seq("scan", "fe", "exec", "pit", "fetch", "sink",
    "feature_store", "fe.backfill", "materialize.upsert", "table.read", "materialize.lookup")

  /** Layers that own a public call of their own, and so report `driver_s`.
    * The others are plan segments inside one action, whose driver time
    * cannot be split by layer.
    */
  val CallLayers: Seq[String] = Seq("sink", "feature_store", "fe.backfill",
    "materialize.upsert", "table.read", "materialize.lookup")

  // plan nodes that end a stage's segment (the exchange belongs to neither side)
  private val Boundaries = Seq("Exchange", "QueryStage", "ReusedExchange", "Subquery")

  final case class TaskRec(durMs: Long, cpuNs: Long, gcMs: Long, shWrite: Long,
      shRead: Long, fetchWaitMs: Long, spill: Long, inBytes: Long, failed: Boolean)

  def skewOf(durs: Seq[Long]): Double =
    if (durs.isEmpty) 0.0
    else {
      val s = durs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }

  /** Records nothing: the untraced, end-to-end measurement. */
  val off: Trace = new Trace(None)

  /** A recording trace; it sees events while it is a listener of `spark`. */
  def on(spark: SparkSession): Trace = new Trace(Some(spark))
}

/** Execution memory (Spark's memory for sorts, aggregations and joins):
  * the peak of every task that ends while it listens, summed.
  */
final class TaskMemory extends SparkListener {
  private var total = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => synchronized { total += m.peakExecutionMemory })

  def totalMb: Double = synchronized(total / 1e6)
}
