package graft.exec

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.{PlanShape, SparkSpec}
import graft.fixtures.TokenSeq

/** Hot-key detection against the skewed/uniform TokenSeq fixtures. */
class SkewSpec extends SparkSpec {

  test("detects the planted hot key and nothing else on skewed data") {
    val skewed = TokenSeq.generate(spark, n = 20000, entities = 50, hotSharePct = 30)
    val hot = Skew.detectHotKeys(skewed, "doc_id", hotShare = 0.1, sampleFraction = 0.2)
    assert(hot == Seq("doc_0"), s"got $hot")
  }

  test("uniform data yields no hot keys at a 10% threshold") {
    val uniform = TokenSeq.generate(spark, n = 20000, entities = 50, hotSharePct = 0)
    val hot = Skew.detectHotKeys(uniform, "doc_id", hotShare = 0.1, sampleFraction = 0.2)
    assert(hot.isEmpty, s"got $hot")
  }

  test("detection is one query and leaves nothing cached") {
    spark.catalog.clearCache()
    Seq(30 -> Seq("doc_0"), 0 -> Nil).foreach { case (hotSharePct, want) =>
      val df = TokenSeq.generate(spark, n = 20000, entities = 50, hotSharePct = hotSharePct)
      val (hot, plans) = PlanShape.executedPlans(spark) {
        Skew.detectHotKeys(df, "doc_id", hotShare = 0.1, sampleFraction = 0.2)
      }
      assert(hot == want, s"hotSharePct $hotSharePct: got $hot")
      assert(plans.size == 1, s"hotSharePct $hotSharePct: ${plans.size} queries ran")
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("detection is two jobs with no hash-partitioned exchange, single and composite keys") {
    val df = TokenSeq.generate(spark, n = 20000, entities = 50, hotSharePct = 30)
    Seq(Seq("doc_id"), Seq("doc_id", "source")).foreach { keys =>
      val ((hot, plans), jobs) = jobsDuring(PlanShape.executedPlans(spark) {
        Skew.detectHotKeyTuples(df, keys, hotShare = 0.05, sampleFraction = 0.2)
      })
      // doc_0 holds 30% of the rows, spread over 4 sources
      assert(hot.nonEmpty && hot.forall(_.head == "doc_0"), s"$keys: got $hot")
      // a partial sketch per scan task, then one single-partition merge
      val hashed = plans.flatMap(p => PlanShape.collect(p) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      })
      assert(hashed.isEmpty, s"$keys: ${hashed.map(_.simpleString(200))}")
      assert(jobs == 2, s"$keys: $jobs jobs")
    }
  }
}
