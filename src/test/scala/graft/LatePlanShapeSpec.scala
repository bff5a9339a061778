package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.fixtures.TokenSeq

/** Plan-shape fence of the late-materialized as-of path, read from EXECUTED
  * plans (AQE final plans included):
  *
  *  - one as-of `Window` (the one computing `__graft_last`) per as-of
  *    join: the matched frame feeds only the fetch join, so nothing
  *    evaluates the as-of exchange + sort + window a second time;
  *  - no array column, at any depth, in the input of any `Window` or
  *    `Sort`: the wide payload never rides a window and is never sorted
  *    (a sort-merge fetch would sort it), with no exemption.
  */
object PlanShape extends AdaptiveSparkPlanHelper {

  def asOfWindows(plan: SparkPlan): Seq[WindowExec] = collect(plan) {
    case w: WindowExec if w.windowExpression.exists(_.name == "__graft_last") => w
  }

  private def hasArray(dt: DataType): Boolean = dt match {
    case _: ArrayType => true
    case st: StructType => st.fields.exists(f => hasArray(f.dataType))
    case m: MapType => hasArray(m.keyType) || hasArray(m.valueType)
    case _ => false
  }

  /** Window/Sort operators whose input carries an array. */
  def arraySortsOrWindows(plan: SparkPlan): Seq[SparkPlan] =
    collect(plan) {
      case w: WindowExec if w.child.output.exists(a => hasArray(a.dataType)) => w
      case s: SortExec if s.child.output.exists(a => hasArray(a.dataType)) => s
    }

  /** For each array column read from a file, the number of scans that read it. */
  def arrayColumnScans(plan: SparkPlan): Map[String, Int] =
    collect(plan) { case s: FileSourceScanExec => s }
      .flatMap(_.output.filter(a => hasArray(a.dataType)).map(_.name).distinct)
      .groupBy(identity).map { case (c, scans) => c -> scans.size }

  /** Both fences on one executed plan; returns a failure message or "". */
  def lateFetchViolations(plan: SparkPlan, asOfJoins: Int = 1): String = {
    val windows = asOfWindows(plan).size
    val arrays = arraySortsOrWindows(plan)
    Seq(
      if (windows != asOfJoins) s"expected $asOfJoins as-of Window(s), found $windows" else "",
      if (arrays.nonEmpty) s"array column fed ${arrays.map(_.nodeName).mkString(", ")}" else "")
      .filter(_.nonEmpty).mkString("; ")
  }

  /** Shuffle exchanges hash-partitioned on an expression over `column`:
    * the exchanges that carry that column as (part of) their key.
    */
  def exchangesKeyedOn(plan: SparkPlan, column: String): Seq[ShuffleExchangeExec] =
    collect(plan) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == column))
        case _ => false
      }) => e
    }

  /** The array columns, at any depth, in `node`'s output. */
  def arrayColumns(node: SparkPlan): Seq[String] =
    node.output.filter(a => hasArray(a.dataType)).map(_.name)

  /** `body`'s result and the final executed plans of the queries it ran,
    * writes included.
    */
  def executedPlans[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
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
    (result, plans.asScala.toSeq)
  }

  /** Executed plans that write files. */
  def writes(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.filter(p => find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)

  /** Run `df` to completion, then check its final executed plan. */
  def lateFetchViolations(df: DataFrame): String = {
    df.collect()
    lateFetchViolations(df.queryExecution.executedPlan)
  }
}

class LatePlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Int) = java.sql.Timestamp.from(
    java.time.Instant.parse("2021-04-12T00:00:00Z").plusSeconds(min * 60L))

  test("q35 late as-of: one as-of window, no array in any window/sort input") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q35").toString
    Seq(
      (1L, t(0), 1L, "purchase", 5.0, "a"),
      (2L, t(10), 1L, "signup", 0.0, ""),
      (3L, t(20), 1L, "purchase", 7.0, "b"),
      (4L, t(30), 1L, "signup", 0.0, ""),
      (5L, t(5), 2L, "signup", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q35_late_asof")(spark, dir)
    val v = PlanShape.lateFetchViolations(out)
    assert(v.isEmpty, v)
    val got = out.collect().map(r =>
      r.getAs[Long]("event_id") -> Option(r.getAs[java.lang.Double]("purchase_value")).map(_.doubleValue))
      .toMap
    assert(got == Map(2L -> Some(5.0), 4L -> Some(7.0), 5L -> None))
  }

  test("q47 two wide views: one as-of window each, arrays never sorted, each read by one scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q47").toString
    Seq(
      (0L, "abcdef", "en", "web", 6L),
      (1L, "ghij", "en", "web", 4L),
      (2L, "klmnopq", "de", "wiki", 7L),
      (3L, "rs", "en", "wiki", 2L),
      (60L, "tuvw", "en", "web", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q47_two_wide_views")(spark, dir)
    val rows = out.collect()
    val plan = out.queryExecution.executedPlan
    val v = PlanShape.lateFetchViolations(plan, asOfJoins = 2)
    assert(v.isEmpty, v)
    val scans = PlanShape.arrayColumnScans(plan)
    assert(scans == Map("tokens" -> 1, "rev_toks" -> 1), s"array column scans: $scans")
    val got = rows.map(r =>
      r.getAs[Long]("probe_id") -> (r.getAs[String]("tokens_str"), r.getAs[String]("rev_str")))
      .toMap
    // probe p sits 90 s after doc p's feature row: lang view (ttl 1h) picks
    // the latest same-lang doc, source view (45 s grid, ttl 30 min) likewise
    assert(got(1L) == (("103,104,105,106", "106,105,104,103")))
    assert(got(2L) == (("107,108,109,110,111,112,113", "115,114")))
    assert(got(60L)._1 == "116,117,118,119")
  }

  test("timedJob: one as-of window, token arrays never enter a window or sort") {
    val dir = java.nio.file.Files.createTempDirectory("graft_timed").toString
    TokenSeq.generate(spark, n = 3000, entities = 20, maxTokens = 16, hotSharePct = 10)
      .write.parquet(s"$dir/sequences")
    TokenSeq.entityProbes(spark, entities = 20, probesPerEntity = 200, hotSharePct = 30)
      .write.parquet(s"$dir/probes")

    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val probeRows =
      try {
        val rows = ScalingBench.timedJob(spark, dir)._2
        // listener events arrive asynchronously; wait for the job's sink
        eventually(timeout(30.seconds)) {
          assert(plans.asScala.exists(p => PlanShape.asOfWindows(p).nonEmpty))
        }
        rows
      } finally spark.listenerManager.unregister(listener)
    assert(probeRows == 20L * 200)
    val sink = plans.asScala.filter(p => PlanShape.asOfWindows(p).nonEmpty).toSeq
    assert(sink.size == 1)
    val v = PlanShape.lateFetchViolations(sink.head)
    assert(v.isEmpty, v)
  }
}
