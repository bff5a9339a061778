package graft

import org.apache.spark.Listeners

/** Every operator-bench mode of [[graft.Bench]] on tiny inputs: the result
  * carries exactly the mode's documented keys in order, its internal
  * cross-checks (`require`s between competing plans) pass, and no listener
  * outlives the mode.
  */
class BenchSpec extends SparkSpec {

  private def runMode(args: String*): Bench.Result = {
    val out = Bench.run(spark, args.toList)
    val left = Listeners.classNames(spark.sparkContext).filter(_.startsWith("graft."))
    assert(left.isEmpty, s"${args.head} left listeners: $left")
    // the line main prints is valid JSON with the same keys
    assert(Json.mapper.readTree(Json.write(out)).size == out.size)
    out
  }

  test("cc: star, hash-min and escalation checksums agree") {
    val r = runMode("cc", "40", "9")
    assert(r.keys.toSeq == Seq("metric", "n_chains", "len", "n_edges", "diameter",
      "star_sec", "star_rounds", "hashmin_sec", "hashmin_rounds", "escalation_sec",
      "checksum"))
    assert(r("n_edges") == 40L * 8)
    assert(r("diameter") == 8)
  }

  test("cosine: candidate counts at both corpus sizes") {
    val r = runMode("cosine", "200", "800")
    assert(r.keys.toSeq == Seq("bench", "n1", "n2",
      "fixed_cand_n1", "fixed_cand_n2", "fixed_growth_exp",
      "scaled_cand_n1", "scaled_cand_n2", "scaled_growth_exp",
      "fixed_sec_n1", "fixed_sec_n2", "scaled_sec_n1", "scaled_sec_n2"))
    assert(r("fixed_cand_n2").asInstanceOf[Long] > r("fixed_cand_n1").asInstanceOf[Long])
  }

  test("dedup: prefix, capped and plain strategies all report") {
    val r = runMode("dedup", "200")
    assert(r.keys.toSeq == Seq("bench", "n_docs", "threshold", "prefix_sec",
      "capped_sec", "prefix_rows", "capped_rows",
      "plain_sec", "plain_rows", "plain_over_prefix"))
  }

  test("digest: text-keyed and digest-keyed dedup agree; the listener is removed") {
    val r = runMode("digest", "2000", "20")
    assert(r.keys.toSeq == Seq("bench", "n_docs", "corpus_bytes", "distinct",
      "text_sec", "text_shuffle_bytes", "digest_sec", "digest_shuffle_bytes",
      "shuffle_ratio"))
    assert(r("distinct").asInstanceOf[Long] < 2000L)
    assert(r("digest_shuffle_bytes").asInstanceOf[Long] > 0L)
  }

  test("span: kernel, mask and naive formulations report") {
    val r = runMode("span", "40", "260", "50")
    assert(r.keys.toSeq == Seq("bench", "n_docs", "doc_len", "span_n",
      "kernel_sec", "kernel_rows", "mask_sec", "masked_tokens",
      "naive_sec", "naive_rows", "naive_over_kernel"))
    // both formulations find the same duplicated-span occurrences
    assert(r("kernel_rows") == r("naive_rows"))
  }

  test("an unknown mode fails with the usage") {
    val e = intercept[RuntimeException](Bench.run(spark, List("nope")))
    assert(e.getMessage.startsWith("usage: Bench"))
  }
}
