package graft.ops

import graft.{PlanShape, SparkEntry, SparkSpec}

/** Plan fence of the near-duplicate candidate joins, read from EXECUTED
  * plans: in q22 (MinHash bands), q23 (SimHash blocks), q32 (sign-LSH
  * bands) and q79 (SemDeDup cells) every shuffle keyed on the candidate key
  * carries no array column — candidates are generated on narrow (id, key)
  * rows and the embeddings and shingle sets are fetched only for the
  * surviving pairs. Broadcast joins are switched off for the fence: at
  * corpus scale the candidate self-join is a shuffle join, and on a small
  * fixture the planner would otherwise broadcast it and leave no
  * candidate-keyed exchange to check.
  */
class NearDupPlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val words = Seq("the", "data", "model", "and", "of", "train", "set", "with",
    "small", "fast", "join", "key", "time", "row", "for", "in", "a", "to", "feature",
    "store", "query", "plan", "scan", "sort")

  /** 60 documents of 30 words (doc i and doc i + 30 share their text) and
    * 64 random 16-dim embeddings (vector i + 32 is a copy of vector i).
    */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_neardup_plan").toString
    (0 until 60).map { i =>
      (i.toLong, (0 until 30).map(j => words((i % 30 + j * 7) % words.size)).mkString(" "))
    }.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val rnd = new scala.util.Random(7)
    val base = (0 until 32).map(_ => Array.fill(16)(rnd.nextGaussian().toFloat))
    (0 until 64).map(i => (i.toLong, base(i % 32)))
      .toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    d
  }

  // gate query -> a column of its candidate key
  private val candidateKeys = Seq(
    "q22_minhash_lsh" -> "sig",
    "q23_simhash_pairs" -> "key",
    "q32_cosine_neardup" -> "__sig",
    "q79_semdedup_pairs" -> "__cid")

  for ((q, key) <- candidateKeys) {
    test(s"$q: no array column rides the exchange keyed on the candidate key `$key`") {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      try {
        val out = SparkEntry.queries(q)(spark, dir)
        assert(out.collect().nonEmpty, "fixture must yield candidate pairs")
        val keyed = PlanShape.exchangesKeyedOn(out.queryExecution.executedPlan, key)
        assert(keyed.nonEmpty, s"no exchange keyed on $key in\n${out.queryExecution.executedPlan}")
        val wide = keyed.map(e => e.outputPartitioning -> PlanShape.arrayColumns(e))
          .filter(_._2.nonEmpty)
        assert(wide.isEmpty, s"candidate exchange carries arrays: ${wide.mkString(", ")}")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
