package graft.ops

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.{PlanShape, SparkEntry, SparkSpec}

/** Plan fence of digest-keyed exact dedup, read from EXECUTED plans: in q84
  * and in the q83 pipeline no shuffle is keyed on the document text — the
  * dedup aggregate shuffles its 128-bit digest, never the corpus. The fence
  * names the content column rather than every string key: q83's per-source
  * token-budget window is rightly keyed on the short `source` string.
  */
class DigestPlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val words = Seq("the", "data", "model", "and", "of", "train", "set", "with",
    "small", "fast", "join", "key", "time", "row", "for", "in", "a", "to", "feature",
    "store", "query", "plan", "scan", "sort")

  /** 60 documents of 30 words that pass q83's quality rules; doc i and doc
    * i + 30 share their text.
    */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_digest_plan").toString
    (0 until 60).map { i =>
      val text = (0 until 30).map(j => words((i % 30 + j * 7) % words.size))
        .mkString(" ")
      (i.toLong, text, "en", s"src${i % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  for (q <- Seq("q84_dedup_digest", "q83_pipeline")) {
    test(s"$q: no shuffle is keyed on the document text") {
      val out = SparkEntry.queries(q)(spark, dir)
      assert(out.collect().nonEmpty, "fixture must reach every stage")
      val plan = out.queryExecution.executedPlan
      // not vacuous: the dedup aggregate's exchange is there, keyed on digests
      val hashExchanges = PlanShape.collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashExchanges.nonEmpty, s"no hash exchange in\n$plan")
      val text = PlanShape.exchangesKeyedOn(plan, "text")
      assert(text.isEmpty, s"text-keyed exchange: ${text.map(_.outputPartitioning).mkString(", ")}")
    }
  }
}
