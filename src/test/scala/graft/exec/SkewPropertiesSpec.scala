package graft.exec

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** ScalaCheck property suite for [[Skew.detectHotKeyTuples]]: on random
  * skewed fixtures its sketch result equals an exact detector — per-key
  * `groupBy().count()` over the same seeded sample, thresholded by the
  * sample total — for single keys, composite keys (string + bigint;
  * µs timestamp + date), a double key holding -0.0 and 0.0, null key
  * components and empty frames.
  */
class SkewPropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** The exact detector: one count per sampled key tuple. */
  private def exact(df: DataFrame, keyCols: Seq[String], hotShare: Double,
      sampleFraction: Double, seed: Long): Set[Seq[Any]] =
    df.select(keyCols.map(col): _*)
      .sample(withReplacement = false, sampleFraction, seed)
      .groupBy(keyCols.map(col): _*).count()
      .withColumn("total", sum(col("count")).over())
      .where(col("count") >= col("total") * hotShare)
      .collect().map(r => keyCols.indices.map(r.get).toSeq).toSet

  /** Rows drawn from `nKeys` key ids, the first `nHot` of them heavy; key
    * id -1 stands for a null key.
    */
  private val genFixture: Gen[(List[Int], Double, Double, Long)] = for {
    n <- Gen.choose(0, 400)
    nKeys <- Gen.choose(1, 40)
    nHot <- Gen.choose(0, 3)
    ids <- Gen.listOfN(n, Gen.frequency(
      4 -> Gen.choose(0, math.max(nHot, 1) - 1),
      6 -> Gen.choose(0, nKeys - 1),
      1 -> Gen.const(-1)))
    hotShare <- Gen.oneOf(0.02, 0.05, 0.1, 0.2, 0.3)
    fraction <- Gen.oneOf(0.3, 0.7, 1.0)
    seed <- Gen.choose(0L, 1000L)
  } yield (ids, hotShare, fraction, seed)

  private val T0 = 1618185600000000L // 2021-04-12T00:00Z in µs

  private def fixture(ids: List[Int]): DataFrame = {
    val some = ids.map(i => if (i < 0) None else Some(i))
    some.zipWithIndex.map { case (i, row) => (row.toLong, i) }.toDF("row", "i")
      .select(
        when(col("i").isNotNull, concat(lit("user_"), col("i"))).as("s"),
        // half the bigint partners collide, so (s, b) is not just s
        (col("i") / 2).cast("long").as("b"),
        timestamp_micros(lit(T0) + col("i") * 1000001L).as("t"),
        date_add(lit(Date.valueOf("2024-02-28")), col("i")).as("d"),
        // -0.0 and 0.0 are one key to an exact count
        when(col("i") % 3 === 0, lit(-0.0)).when(col("i") % 3 === 1, lit(0.0))
          .otherwise(col("i").cast("double")).as("x"))
      .repartition(3) // several partial sketches to merge
  }

  test("sketch detection equals the exact per-key count (single, composite, null keys)") {
    val keySets = Seq(Seq("s"), Seq("b"), Seq("s", "b"), Seq("t", "d"), Seq("x"))
    val prop = Prop.forAllNoShrink(genFixture) { case (ids, hotShare, fraction, seed) =>
      val df = fixture(ids)
      keySets.forall { keys =>
        val got = Skew.detectHotKeyTuples(df, keys, hotShare, fraction, seed)
        val want = exact(df, keys, hotShare, fraction, seed)
        assert(got.toSet == want && got.size == want.size,
          s"keys $keys, hotShare $hotShare, fraction $fraction, seed $seed")
        true
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10).withMaxSize(400), prop)
    assert(result.passed, s"property falsified: ${result.status}")
  }

  test("an empty frame has no hot keys; a hot null key is returned as null") {
    val empty = fixture(Nil)
    assert(Skew.detectHotKeyTuples(empty, Seq("s", "b"), sampleFraction = 1.0) == Nil)
    val nullHot = fixture(List.fill(6)(-1) ++ List(1, 2, 3))
    assert(Skew.detectHotKeys(nullHot, "s", hotShare = 0.5, sampleFraction = 1.0) == Seq(null))
  }

  test("counts stay exact at 12,000 distinct keys in the sample") {
    // the sketch's map holds 0.75 × 16,384 = 12,288 items before it purges
    val ids = (0 until 12000).toList ++ List.fill(40)(5) ++ List.fill(30)(9)
    val df = fixture(ids)
    val hotShare = 30.0 / ids.size
    val got = Skew.detectHotKeyTuples(df, Seq("s"), hotShare, sampleFraction = 1.0)
    assert(got.toSet == exact(df, Seq("s"), hotShare, 1.0, 42L))
    assert(got.toSet == Set(Seq("user_5"), Seq("user_9")))
  }
}
