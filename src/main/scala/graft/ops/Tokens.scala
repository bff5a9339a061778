package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-sequence operators for large-scale training-data assembly, over the
  * engine's native payload shape (`tokens: array<int>`). All declarative
  * column/window plans — no UDFs. Token arrays travel through the cumsum
  * window and the final grouped aggregation: the aggregation moves them
  * anyway, and fetching them after the window by an extra join measured
  * slowest of the packing plans (BENCH/PACK.md).
  */
object Tokens {

  /** Greedy contiguous sequence packing: within each key group, documents
    * are laid out in a deterministic order and cut into packs of `seqLen`
    * tokens by their running start offset — the standard
    * pack-to-context-length step of an LLM pretraining pipeline, expressed
    * as cumsum window + hash aggregation:
    *
    *   pack_id = floor((cumsum(n_tok) - n_tok) / seqLen)
    *
    * A document goes to the pack where it STARTS (documents are not split;
    * packs can overflow by up to one document — the usual greedy variant).
    * Output: one row per (keys, pack_id) with the flattened token array,
    * document count, and token count. Deterministic: per-pack order is
    * re-established with sort_array over order structs, so the result is
    * independent of partitioning.
    *
    * SCALE: with `subShards = 1` the cumsum window runs one task per key
    * group — a handful of straggler tasks when keys are few (one language
    * sorting its whole shard). With `subShards > 1`, packing is TWO-LEVEL:
    * rows are sub-sharded by `shardExpr` (default: hash of `orderCol` mod
    * subShards; pass an oracle-mirrorable expression for verified outputs),
    * the cumsum window runs per (keys, shard) — keys × subShards concurrent
    * tasks — and each shard's running offset is shifted by the prefix sum
    * of the per-shard token totals (a keys × subShards row frame, trivially
    * small, broadcast back onto the rows). Layout order becomes
    * (shard, orderCol) within each key group: still fully deterministic,
    * packs still contiguous, no single task ever sorts a whole key group.
    */
  def packGreedy(
      df0: DataFrame,
      keys: Seq[String],
      orderCol: String,
      tokensCol: String,
      nTokCol: String,
      seqLen: Int,
      subShards: Int = 1,
      shardExpr: Option[Column] = None,
      alignShards: Boolean = false): DataFrame = {
    val twoLevel = subShards > 1 || shardExpr.isDefined
    require(!alignShards || twoLevel, "alignShards requires sub-sharding")
    // Zero-token documents carry nothing to pack and are dropped up front:
    // one sitting exactly on a rounded shard boundary would otherwise be
    // assigned the NEXT shard's first pack id, breaking the "(keys,
    // pack_id) is unique" output contract in aligned mode.
    val df = df0.where(col(nTokCol) > 0)
    val shard: Column =
      if (!twoLevel) lit(0)
      else shardExpr.getOrElse(pmod(xxhash64(col(orderCol)), lit(subShards)))
    val sharded = df.withColumn("__shard", shard)

    val withStart = if (!twoLevel) {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sharded.withColumn("__cum_start", sum(col(nTokCol)).over(w) - col(nTokCol))
    } else {
      // per-(keys, shard) token totals → running offset in shard order;
      // the offsets frame has keys × subShards rows (tiny — AQE broadcasts)
      val offW = Window.partitionBy(keys.map(col): _*).orderBy(col("__shard"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // alignShards: round each shard's span up to a pack boundary, so a
      // pack never crosses shards. Packs then group by (keys, shard,
      // pack_id) — a superset of the window's hash partitioning — and
      // Catalyst elides the aggregation's exchange: the ENTIRE pack job
      // runs on one shuffle of the data. Cost: the last pack of each shard
      // may be short (≤ subShards short packs per key group).
      val span =
        if (alignShards)
          floor((col("__tot") + lit(seqLen - 1)) / lit(seqLen)) * seqLen
        else col("__tot")
      val offsets = sharded.groupBy((keys.map(col) :+ col("__shard")): _*)
        .agg(sum(col(nTokCol)).as("__tot"))
        .withColumn("__offset", sum(span).over(offW) - span)
        .drop("__tot")
      val w = Window.partitionBy((keys :+ "__shard").map(col): _*)
        .orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sharded.join(offsets, keys :+ "__shard")
        .withColumn("__cum_start",
          sum(col(nTokCol)).over(w) - col(nTokCol) + col("__offset"))
    }

    // with alignShards the shard is part of the grouping so the aggregate
    // reuses the window's partitioning (no second exchange); pack_id alone
    // already determines the shard in that mode, so dropping __shard after
    // is lossless
    val groupCols =
      if (alignShards) keys.map(col) :+ col("__shard") :+ col("pack_id")
      else keys.map(col) :+ col("pack_id")
    withStart
      .select((keys.map(col) :+ col("__shard") :+ col(orderCol) :+
        col(tokensCol).as("__t") :+ col(nTokCol).as("__n") :+ col("__cum_start")): _*)
      .withColumn("pack_id", floor(col("__cum_start") / seqLen).cast("long"))
      .groupBy(groupCols: _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).cast("long").as("n_tok"),
        flatten(transform(
          sort_array(collect_list(struct(
            col("__shard").as("s"), col(orderCol).as("o"), col("__t").as("t")))),
          x => x.getField("t"))).as("packed"))
      .drop("__shard")
  }

  /** Token n-grams, one output row per occurrence: (gram: array<int>) —
    * feed to groupBy().count() for corpus statistics. The slide/explode is
    * bounded by the token count, so row growth is exactly ×(len-n+1).
    */
  def ngrams(df: DataFrame, tokensCol: String, n: Int): DataFrame = {
    require(n >= 1, s"ngram size must be >= 1 (got $n)")
    df.where(size(col(tokensCol)) >= n)
      .select(explode(transform(
        sequence(lit(1), size(col(tokensCol)) - (n - 1)),
        i => slice(col(tokensCol), i, lit(n)))).as("gram"))
  }

  /** Deterministic corpus shuffle + length-bucketed batching: every
    * document gets a seed-stable pseudo-random order key
    * (`mix61(id, seed)` — reproducible across engines and partitionings,
    * unlike `orderBy(rand())`), documents are grouped into length buckets
    * (`bucket = ⌊(n_tok−1)/bucketWidth⌋` — batching similar lengths
    * minimizes padding waste), and each bucket is cut into batches of
    * `batchSize` in shuffled order. The "shuffle + dynamic batching" step
    * between curation and training.
    *
    * SCALE: with `subShards = 1`, positions come from one ROW_NUMBER task
    * per bucket. With `subShards > 1` the numbering is TWO-LEVEL (same
    * construction as [[packGreedy]]): rows shard by `ord mod subShards`,
    * ROW_NUMBER runs per (bucket, shard) — buckets × subShards concurrent
    * tasks — and shard offsets come from a tiny per-(bucket, shard) count
    * frame. Layout order becomes (shard, ord) within a bucket — a
    * different but equally deterministic permutation (the shard index is
    * itself derived from the shuffle key, so the composition is still a
    * seed-stable shuffle).
    *
    * Output: (id, bucket, batch_id, pos_in_batch) — batch_id is global
    * across buckets only in combination with `bucket`; the last batch of a
    * (bucket, shard) span may be short.
    */
  def shuffleBatches(
      df: DataFrame,
      idCol: String,
      nTokCol: String,
      bucketWidth: Int,
      batchSize: Int,
      seed: Long,
      subShards: Int = 1): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1 && subShards >= 1,
      "bucketWidth, batchSize and subShards must be >= 1")
    val ord = graft.functions.Mix61.mix61(col(idCol).cast("long"), lit(seed))
    val withKeys = df.select(
      col(idCol),
      floor((greatest(col(nTokCol), lit(1)) - 1) / bucketWidth).cast("int").as("bucket"),
      ord.as("__ord"),
      pmod(ord, lit(subShards)).cast("int").as("__shard"))
    val rnW = Window.partitionBy(col("bucket"), col("__shard"))
      .orderBy(col("__ord"), col(idCol))
    val positioned =
      if (subShards == 1)
        withKeys.withColumn("__pos", row_number().over(rnW) - 1)
      else {
        val offW = Window.partitionBy(col("bucket")).orderBy(col("__shard"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val offsets = withKeys.groupBy(col("bucket"), col("__shard"))
          .agg(count(lit(1)).as("__cnt"))
          .withColumn("__offset", sum(col("__cnt")).over(offW) - col("__cnt"))
          .drop("__cnt")
        withKeys.join(offsets, Seq("bucket", "__shard"))
          .withColumn("__pos", row_number().over(rnW) - 1 + col("__offset"))
      }
    positioned.select(
      col(idCol),
      col("bucket"),
      (col("__pos") / batchSize).cast("long").as("batch_id"),
      pmod(col("__pos"), lit(batchSize)).cast("int").as("pos_in_batch"))
  }

  /** Overlapping fixed-length context windows: chunk c covers tokens
    * [c·stride, c·stride + len), starts running 0, stride, 2·stride, …
    * while start < n_tok; trailing windows shorter than `minLen` tokens are
    * dropped. The chunk-for-context-window step used when documents are NOT
    * packed — each chunk becomes one training example, with stride < len
    * giving token overlap between consecutive examples. Row growth is
    * exactly the chunk count (⌈n_tok/stride⌉ before the minLen filter) —
    * a bounded explode inside the scan stage, no shuffle, no UDF.
    */
  def chunkWindows(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      len: Int,
      stride: Int,
      minLen: Int = 1): DataFrame = {
    require(len >= 1 && stride >= 1, "len and stride must be >= 1")
    require(minLen >= 1 && minLen <= len, "minLen must be in [1, len]")
    val nStarts = floor((size(col(tokensCol)) + lit(stride - 1)) / lit(stride)).cast("int")
    val chunks = transform(
      sequence(lit(0), nStarts - 1),
      c => slice(col(tokensCol), c * stride + 1, lit(len)))
    df.where(size(col(tokensCol)) >= 1)
      .select(col(idCol), posexplode(chunks))
      .where(size(col("col")) >= minLen)
      .select(col(idCol), col("pos").as("chunk_id"),
        size(col("col")).cast("long").as("n_chunk_tok"), col("col").as("chunk"))
  }

  /** Truncate to `len` tokens and right-pad with `padToken` — the fixed-
    * width tensorization step. Pure column expression.
    */
  def truncatePad(tokens: Column, len: Int, padToken: Int): Column = {
    val cut = slice(tokens, 1, len)
    // array_repeat, not sequence: sequence(1, 0) DESCENDS in Spark
    concat(cut, array_repeat(lit(padToken), greatest(lit(0), lit(len) - size(cut))))
  }
}
