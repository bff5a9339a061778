package graft

/** [[graft.Bench]] takes no arguments: a stale operator-mode call fails
  * with the usage before the per-round contract can start.
  */
class BenchSpec extends SparkSpec {

  test("an unknown mode fails with the usage") {
    Seq(List("nope"), List("cc", "40", "9")).foreach { args =>
      val e = intercept[RuntimeException](Bench.run(spark, args))
      assert(e.getMessage.startsWith("usage: Bench"))
      assert(e.getMessage.contains("BENCH/DEDUP.md"))
    }
  }
}
