package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled hot-key detection (SURVEY §4): find entity keys whose share of
  * the data exceeds `hotShare`, from a seeded sample — the planning input
  * for [[graft.pit.AsOfJoin]]'s selective salting. One aggregate over the
  * sampled fraction, thresholded in the same query — one job, no cache; cost
  * is O(sample), independent of table size, so it is cheap enough to run
  * inline before every large as-of join.
  *
  * Statistical note: with sampleFraction f, a key holding share s of N rows
  * appears ~s·f·N times in the sample; for the defaults (f = 0.01) any key
  * over ~1% of a 10M-row table is detected with overwhelming probability,
  * and false positives require a key to overshoot the threshold in the
  * sample — harmless, since salting a non-hot key only costs its
  * replication factor.
  */
object Skew {

  def detectHotKeys(
      df: DataFrame,
      keyCol: String,
      hotShare: Double = 0.01,
      sampleFraction: Double = 0.01,
      seed: Long = 42L): Seq[Any] =
    detectHotKeyTuples(df, Seq(keyCol), hotShare, sampleFraction, seed).map(_.head)

  /** Composite-key variant: samples on the full key TUPLE, so a multi-entity
    * view (e.g. customer+driver) detects heat on the combination — a pair
    * can be scorching while each component alone is not (and vice versa:
    * a hot single column spread over many partners is NOT a hot window
    * partition). Returned tuples align with `keyCols` order and feed
    * [[graft.pit.AsOfJoin.windowed]]'s `hotKeys` directly.
    */
  def detectHotKeyTuples(
      df: DataFrame,
      keyCols: Seq[String],
      hotShare: Double = 0.01,
      sampleFraction: Double = 0.01,
      seed: Long = 42L): Seq[Seq[Any]] = {
    // one job, no cache: each sampled key's count is thresholded by the
    // sample total in the same plan (an empty sample yields no rows)
    df.select(keyCols.map(col): _*)
      .sample(withReplacement = false, sampleFraction, seed)
      .groupBy(keyCols.map(col): _*).count()
      .withColumn("__graft_total", sum(col("count")).over())
      .where(col("count") >= col("__graft_total") * hotShare)
      .collect().map(r => keyCols.indices.map(r.get).toSeq).toSeq
  }
}
