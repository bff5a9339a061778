package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, scalatest runs suites
  * sequentially in the forked test JVM). Small shuffle parallelism keeps
  * tiny-data tests fast while still exercising multi-partition plans.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  def tsOf(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  /** `f`'s value and the Spark jobs started while it runs: a listener
    * counts job starts, and the listener bus is drained before and after so
    * no earlier job leaks in and no job of `f` is missed.
    */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.Listeners.drain(sc)
    sc.addSparkListener(listener)
    val out = try {
      val v = f
      org.apache.spark.Listeners.drain(sc)
      v
    } finally sc.removeSparkListener(listener)
    (out, jobs.get)
  }

  /** allclose contract from the reference's consistency tests
    * (test_offline_online_store_consistency.py:257): abs diff < 1e-6,
    * null == null.
    */
  def allclose(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => math.abs(x - y) < 1e-6
    case _ => false
  }
}
