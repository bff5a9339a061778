package graft.exec

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Sampled hot-key detection (SURVEY §4): find entity keys whose share of
  * the data exceeds `hotShare`, from a seeded sample — the planning input
  * for [[graft.pit.AsOfJoin]]'s selective salting. One global sketch
  * aggregate over the sampled fraction — `approx_top_k` of the key plus
  * `count(1)` — thresholded on the driver: a partial aggregate per scan
  * task and one single-partition merge, so no hash-partitioned exchange,
  * no cache and two jobs. Cost is O(sample), independent of table size, so
  * it is cheap enough to run inline before every large as-of join.
  *
  * Statistical note: with sampleFraction f, a key holding share s of N rows
  * appears ~s·f·N times in the sample; for the defaults (f = 0.01) any key
  * over ~1% of a 10M-row table is detected with overwhelming probability,
  * and false positives require a key to overshoot the threshold in the
  * sample — harmless, since salting a non-hot key only costs its
  * replication factor.
  *
  * Sketch bound: at most 1/hotShare keys can reach the threshold, and the
  * sketch returns the top ceil(1/hotShare), at most 10,000. For
  * `maxItemsTracked` = 10,000 Spark sizes the sketch's frequent-items map
  * to 16,384 slots, which hold 0.75 × 16,384 = 12,288 distinct keys before
  * the first purge. While the sample holds fewer distinct keys than that,
  * every count is exact and the result equals an exact per-key
  * `groupBy().count()`. Past it the counts are estimates that err by at
  * most 3.5 / 16,384 (about 0.02%) of the sample size, so only a key that
  * close to the threshold can be decided differently.
  */
object Skew {

  /** The sketch's `maxItemsTracked` (Spark's default for `approx_top_k`). */
  private val MaxItemsTracked = 10000

  // µs timestamp formats, so an encoded key tuple decodes to the same value
  private val ExactJson = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

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
    *
    * `approx_top_k` takes no structs, so every key (one column or several)
    * is the JSON text of its tuple, decoded back in the same query; null
    * components survive as nulls.
    */
  def detectHotKeyTuples(
      df: DataFrame,
      keyCols: Seq[String],
      hotShare: Double = 0.01,
      sampleFraction: Double = 0.01,
      seed: Long = 42L): Seq[Seq[Any]] = {
    require(hotShare > 0, s"hotShare must be positive, got $hotShare")
    val keys = df.select(keyCols.map(col): _*)
    // grouping counts -0.0 and 0.0 as one key, their JSON texts differ
    val tuple = struct(keys.schema.fields.map(f => f.dataType match {
      case FloatType | DoubleType =>
        when(col(f.name) === 0, lit(0).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
      case _ => col(f.name)
    }): _*)
    val k = math.min(math.ceil(1 / hotShare), MaxItemsTracked.toDouble).toInt
    val row = keys
      .sample(withReplacement = false, sampleFraction, seed)
      .agg(
        call_function("approx_top_k", to_json(tuple, ExactJson), lit(k), lit(MaxItemsTracked))
          .as("top"),
        count(lit(1)).as("n"))
      .select(
        transform(col("top"), t =>
          struct(from_json(t("item"), keys.schema, ExactJson).as("key"), t("count").as("count"))),
        col("n"))
      .head()
    val n = row.getLong(1)
    row.getSeq[Row](0).collect {
      case Row(key: Row, c: Long) if c >= n * hotShare => key.toSeq
    }
  }
}
