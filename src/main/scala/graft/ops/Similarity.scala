package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Nearest-neighbour search and near-duplicate mining over an embedding
  * column (`array<float>`), DataFrame-native. Top-k: [[bruteForceTopK]]
  * (exact, the verifier for the rest), [[lshTopK]] (sign-LSH buckets),
  * [[ivfTopK]] (coarse-quantizer cells, [[trainCentroids]] optional) and
  * [[pqTopK]] (product quantization: [[pqCodebooks]], [[pqEncode]]).
  * Near-dup pairs: [[cosineNearDup]] (banded sign-LSH) and
  * [[semDedupPairs]]/[[semDedup]] (SemDeDup within cells).
  *
  * One candidate → verify → rank core serves them: every top-k operator
  * ranks through `topK` (the cosine ones via `cosineTopK`) with one
  * `notSelf` predicate; the near-dup operators verify through
  * `verifyCosine`; [[cosineNearDup]] draws candidates from
  * [[Candidates.banded]], as [[Dedup.minhashLsh]] and
  * [[Dedup.simhashPairs]] do; IVF, SemDeDup and Lloyd training share one
  * centroid kernel, and PQ encode and scoring share one codebook broadcast.
  */
object Similarity {

  /** The centroid kernel of IVF, SemDeDup and Lloyd training: emits
    * (outId, __vec, __cells = the `nRanked` best cell ids, best first).
    * Centroids ship once per executor as a broadcast variable and each row
    * loops over them in one `mapPartitions` pass — no join, no ×k row
    * expansion, no shuffle — which scales to 2^16-cell quantizers where
    * centroids inlined as literals cannot (and was faster at every k
    * measured, BENCH/ANN.md). `cents` MUST be sorted by cell id (both
    * producers are), so ties go to the lowest cell id. Embeddings are
    * assumed NaN-free (a zero vector scores NaN against every centroid).
    */
  private def rankedCellsScan(
      df: DataFrame,
      idCol: String,
      outId: String,
      vecCol: String,
      cents: Seq[(Any, Seq[Float])],
      nRanked: Int,
      cidType: DataType): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(
      cents.map { case (cid, v) => (cid, v.toArray) }.toArray)
    val base = df.select(col(idCol).as(outId), col(vecCol).as("__vec"))
    val outSchema = StructType(base.schema.fields :+
      StructField("__cells", ArrayType(cidType, containsNull = false)))
    base.mapPartitions { it =>
      val cs = bc.value
      it.map { r =>
        val v = r.getSeq[Float](1).toArray
        val sims = new Array[Double](cs.length)
        var i = 0
        while (i < cs.length) {
          sims(i) = graft.functions.VectorOps.cosine(v, cs(i)._2)
          i += 1
        }
        val order = Array.range(0, cs.length)
          .sortBy(j => (-sims(j), j)).take(nRanked)
        Row(r.get(0), r.get(1), order.map(cs(_)._1).toSeq)
      }
    }(Encoders.row(outSchema))
  }

  /** cosine(a, b) with double accumulation in index order (reproducible),
    * on the native codegen [[graft.functions.DotProduct]] kernel.
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = graft.functions.VectorOps.dot_f(x, y)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** The quantizer of [[ivfTopK]] and [[semDedupPairs]] with its cell-id
    * type: Lloyd-trained centroids 0..k-1 when `trainIters > 0`, else the k
    * lowest-id vectors. An empty corpus yields Nil for every `trainIters`
    * (checked before training, which rejects it): an empty, typed result.
    */
  private def quantizerCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      trainIters: Int): (Seq[(Any, Seq[Float])], DataType) = {
    val cents: Seq[(Any, Seq[Float])] =
      if (trainIters <= 0) df.select(col(idCol), col(vecCol))
        .orderBy(col(idCol)).limit(k).collect()
        .map(r => (r.get(0), r.getSeq[Float](1))).toSeq
      else if (df.isEmpty) Nil
      else trainCentroids(df, idCol, vecCol, k, trainIters)
        .zipWithIndex.map { case (v, i) => (i: Any, v.toSeq) }
    val cidType =
      if (trainIters > 0) IntegerType else df.select(col(idCol)).schema.head.dataType
    (cents, cidType)
  }

  /** The exclude-self predicate of every top-k operator: drops the corpus
    * row whose id EQUALS the query id. Right only when queries come FROM the
    * corpus; with separate tables sharing an id space pass false, or a
    * valid neighbor is lost.
    */
  private def notSelf(excludeSelf: Boolean): Column =
    if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true)

  /** The one ranking tail: per `query_id`, the `k` best rows by `order`,
    * ties to the lower `neighbor_id`, output as (query_id, neighbor_id,
    * `score`, rank).
    */
  private def topK(scored: DataFrame, k: Int, order: Column, score: Column): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(order, col("neighbor_id").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), score, col("__rn").as("rank"))
  }

  /** [[topK]] of the cosine operators over (query `__qv`, corpus `__cv`)
    * rows: ranks on the UNROUNDED cosine, outputs it rounded to 4 places.
    */
  private def cosineTopK(cand: DataFrame, k: Int): DataFrame =
    topK(cand.withColumn("cos", cosine(col("__qv"), col("__cv"))), k,
      col("cos").desc, round(col("cos"), 4).as("cos"))

  /** The cosine verify tail of the near-dup operators: both vectors are
    * fetched per candidate (id1, id2) row — they never ride the candidate
    * join — and a pair is kept when its UNROUNDED cosine meets `threshold`.
    * Output: (id1, id2, carry…, cos rounded to 4 places).
    */
  private def verifyCosine(
      pairs: DataFrame,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      carry: Seq[String] = Nil): DataFrame = {
    val vecs = df.select(col(idCol), col(vecCol))
    pairs
      .join(vecs.select(col(idCol).as("id1"), col(vecCol).as("__v1")), Seq("id1"))
      .join(vecs.select(col(idCol).as("id2"), col(vecCol).as("__v2")), Seq("id2"))
      .withColumn("cos", cosine(col("__v1"), col("__v2")))
      .where(col("cos") >= threshold)
      .select(Seq(col("id1"), col("id2")) ++ carry.map(col) :+ round(col("cos"), 4).as("cos"): _*)
  }

  /** Exact top-k cosine neighbors per query, the (small) query set
    * broadcast against the corpus. `excludeSelf`: see [[notSelf]].
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    cosineTopK(c.join(q, notSelf(excludeSelf)), k)
  }

  /** Sign-LSH signature of `numBits` bits over hyperplanes
    * `firstBit until firstBit + numBits` (the offset gives banded callers
    * independent planes per band): one native [[graft.functions.SignSignature]] pass.
    */
  def signSignature(vec: Column, numBits: Int, firstBit: Int = 0): Column =
    graft.functions.SignSignature.sign_signature(vec, numBits, firstBit)

  /** LSH-bucketed approximate top-k: probe only the query's own bucket.
    * Recall < 1 by construction; verified downstream against bruteForceTopK.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      signSignature(col(vecCol), numBits).as("__sig"))
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      signSignature(col(vecCol), numBits).as("__sig")))
    cosineTopK(c.join(q, Seq("__sig")).where(notSelf(excludeSelf)), k)
  }

  /** Deterministic Lloyd's k-means for IVF quantizers: seeds are the k
    * lowest-id vectors, then `iters` rounds of (assign with the centroid
    * kernel → per-cell mean), each ONE map-side-combinable aggregation; the
    * driver holds only k vectors between rounds. No RNG and a fixed
    * dimension order, so centroids reproduce across runs and cluster
    * sizes. Empty cells keep their previous centroid.
    */
  def trainCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): Seq[Array[Float]] = {
    var cents: Seq[Array[Float]] = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    require(cents.nonEmpty, "trainCentroids: corpus is empty — no vectors to seed centroids from")
    for (_ <- 0 until iters) {
      // nearest centroid, ties → smallest cid
      val assigned = rankedCellsScan(
          corpus, idCol, "__id", vecCol,
          cents.zipWithIndex.map { case (v, i) => (i: Any, v.toSeq) }, 1, IntegerType)
        .select(element_at(col("__cells"), 1).as("__cid"),
          posexplode(col("__vec")))
      // per-dimension mean via posexplode: rows stay (cid, dim, x) narrow,
      // partials combine map-side; the re-assembled vector per cell is
      // bounded by the embedding dimension
      val means = assigned
        .groupBy(col("__cid"), col("pos"))
        .agg(avg(col("col")).as("__m"))
        .groupBy(col("__cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("__m")))),
          s => s.getField("__m").cast("float")).as("__mean"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k: the corpus is partitioned into
    * `nCentroids` cells by nearest centroid and each query probes only its
    * `nProbe` nearest cells (nProbe = nCentroids is exact brute force).
    * Centroids are collected at planning time (the lowest-id vectors, or
    * Lloyd-refined with `trainIters > 0` — deterministic either way) and
    * assigned by the one-scan centroid kernel; the probe is an equi-join on
    * the cell id. An empty corpus plans an empty, typed result.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      trainIters: Int = 0,
      excludeSelf: Boolean = true): DataFrame = {
    val (cents, cidType) =
      quantizerCentroids(corpus, idCol, vecCol, nCentroids, trainIters)
    val corpusCells =
      rankedCellsScan(corpus, idCol, "neighbor_id", vecCol, cents, 1, cidType)
        .select(col("neighbor_id"), col("__vec").as("__cv"),
          element_at(col("__cells"), 1).as("__cid"))
    val queryCells =
      rankedCellsScan(queries, idCol, "query_id", vecCol, cents, nProbe, cidType)
        .select(col("query_id"), col("__vec").as("__qv"),
          explode(col("__cells")).as("__cid"))
    cosineTopK(corpusCells.join(queryCells, Seq("__cid")).where(notSelf(excludeSelf)), k)
  }

  /** Embedding-cosine near-duplicate pairs at or above `threshold`:
    * banded sign-LSH candidates, each verified with exact cosine (no false
    * positives). Fixed 2^numBits buckets make the within-bucket self-join
    * (N/2^bits)², so:
    *
    *  - `targetBucketSize > 0` derives bits-per-band from one planning-time
    *    `count()`: max(numBits, ceil(log2(N / target))), so buckets stay
    *    ≈ target and candidates grow ~linearly in N;
    *  - `bands > 1` recovers the recall more bits cost: a pair is a
    *    candidate if it agrees on ALL bits of ANY band, P = 1 - (1 -
    *    (1-θ/π)^bits)^bands at angle θ (the S-curve of MinHash banding).
    */
  def cosineNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numBits: Int,
      threshold: Double,
      bands: Int = 1,
      targetBucketSize: Long = 0L): DataFrame = {
    val bitsPerBand =
      if (targetBucketSize > 0L) {
        // planning-time scalar, same class as ivfTopK's centroid collect
        val n = math.max(1L, df.count())
        math.max(numBits,
          math.ceil(math.log(n.toDouble / targetBucketSize) / math.log(2.0)).toInt)
      } else numBits
    // each band's signature is its own long: the bound is per band, not
    // bands × bits (which would reject the configs targetBucketSize derives)
    require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 60,
      s"bitsPerBand must be in [1, 60] (got $bitsPerBand, bands = $bands)")
    // NARROW candidates (id, band, sig — 20 bytes/row through the bucket
    // shuffle); vectors are fetched for the distinct surviving pairs only
    val pairs = Candidates.banded(df, idCol,
      (0 until bands).map(b => signSignature(col(vecCol), bitsPerBand, firstBit = b * bitsPerBand)),
      "bs", ("band", "sig"), ("__band", "__sig"))
    verifyCosine(pairs, df, idCol, vecCol, threshold)
  }

  // -- SemDeDup (Abbas et al., arXiv:2303.09540) --------------------------

  /** Semantic near-duplicate PAIRS, SemDeDup-style: cluster with the IVF
    * quantizer, then search ONLY within each cell — O(Σ|cell|²) instead of
    * N². Candidates are NARROW (id, cell) rows self-joined on the cell,
    * verified with exact cosine (no false positives; cross-cell near-dups
    * are missed, the paper's accepted trade). An empty corpus plans an
    * empty, typed result.
    *
    * A degenerate quantizer (everything in one cell) makes the self-join
    * N². `maxCellRows > 0` arms a planning-time guard (one count over the
    * checkpointed assignments) that fails fast with the largest cell's
    * size; the fix is more centroids or `trainIters > 0`. 0 = off.
    *
    * @return (id1, id2, cell, cos) with id1 < id2, cos >= threshold.
    */
  def semDedupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      threshold: Double,
      trainIters: Int = 0,
      maxCellRows: Long = 0L): DataFrame = {
    val (cents, cidType) =
      quantizerCentroids(df, idCol, vecCol, nCentroids, trainIters)
    // checkpoint: the assignment scan feeds both sides of the self-join
    val asg = rankedCellsScan(df, idCol, idCol, vecCol, cents, 1, cidType)
      .select(col(idCol), element_at(col("__cells"), 1).as("__cid"))
      .localCheckpoint()
    if (maxCellRows > 0L) {
      // max() over zero rows is NULL — an empty corpus passes vacuously
      val worst = Option(asg.groupBy(col("__cid")).count()
        .agg(max(col("count"))).head().get(0)).fold(0L)(_.asInstanceOf[Long])
      require(worst <= maxCellRows,
        s"semDedup cell-size guard: largest cell holds $worst rows " +
          s"(> maxCellRows=$maxCellRows); the within-cell self-join would " +
          s"generate ~${worst}² candidate pairs. Raise nCentroids (currently " +
          s"$nCentroids) or set trainIters > 0 to spread the quantizer.")
    }
    // each (id1, id2) pair shares exactly one cell, so this join needs no
    // `distinct` (unlike Candidates.sharingKey)
    val pairs = asg.as("x").join(asg.as("y"), Seq("__cid"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"),
        col("__cid").as("cell"))
    verifyCosine(pairs, df, idCol, vecCol, threshold, carry = Seq("cell"))
  }

  /** Corpus after SemDeDup removal: one representative (minimum id) per
    * connected component of [[semDedupPairs]]; rows in no pair pass through.
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      threshold: Double,
      trainIters: Int = 0,
      maxCellRows: Long = 0L): DataFrame = {
    val pairs = semDedupPairs(df, idCol, vecCol, nCentroids, threshold,
      trainIters, maxCellRows).select(col("id1"), col("id2"))
    Dedup.dropNearDuplicates(df, idCol, pairs)
  }

  // -- Product quantization (Jégou/Douze/Schmid, TPAMI 2011) -------------

  /** Deterministic PQ codebooks `[subspace][centroid][dim]`: subspace s's k
    * centroids are the s-th sub-slices of the k lowest-id corpus vectors
    * (a planning-time collect of k rows, no RNG).
    */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int): Seq[Seq[Seq[Float]]] = {
    val seeds = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
      .map(_.getSeq[Float](1).toIndexedSeq)
    require(seeds.nonEmpty, "pqCodebooks: corpus is empty — no vectors to seed codebooks from")
    val d = seeds.head.length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    (0 until m).map(s => seeds.map(v => v.slice(s * sub, (s + 1) * sub): Seq[Float]).toSeq)
  }

  /** PQ-encode every vector to m codes: per subspace, the argmin squared
    * L2 over the codebook (first index wins exact ties). One scan over
    * broadcast codebooks, no join or row expansion. Squared L2 widens to
    * double BEFORE subtracting and sums in index order, so codes reproduce
    * cross-engine.
    */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Seq[Seq[Seq[Float]]]): DataFrame =
    encodeWith(corpus, idCol, vecCol, broadcastCodebooks(corpus, codebooks))

  /** The codebooks as ONE broadcast, shared by a [[pqTopK]]'s encode and ADC scans. */
  private def broadcastCodebooks(
      df: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]]): Broadcast[Array[Array[Array[Float]]]] =
    df.sparkSession.sparkContext.broadcast(codebooks.map(_.map(_.toArray).toArray).toArray)

  /** [[pqEncode]] over already-broadcast codebooks. */
  private def encodeWith(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bc: Broadcast[Array[Array[Array[Float]]]]): DataFrame = {
    val sub = bc.value.head.head.length
    val base = corpus.select(col(idCol), col(vecCol).as("__vec"))
    val outSchema = StructType(Seq(base.schema.head,
      StructField("codes", ArrayType(IntegerType, containsNull = false))))
    base.mapPartitions { it =>
      val cbs = bc.value
      it.map { r =>
        val v = r.getSeq[Float](1).toArray
        val codes = new Array[Int](cbs.length)
        var s = 0
        while (s < cbs.length) {
          val slc = java.util.Arrays.copyOfRange(
            v, math.min(v.length, s * sub), math.min(v.length, s * sub + sub))
          val cb = cbs(s)
          var best = 0
          var bd = graft.functions.VectorOps.l2sq(slc, cb(0))
          var j = 1
          while (j < cb.length) {
            val d = graft.functions.VectorOps.l2sq(slc, cb(j))
            if (d < bd) { best = j; bd = d }
            j += 1
          }
          codes(s) = best
          s += 1
        }
        Row(r.get(0), codes.toSeq)
      }
    }(Encoders.row(outSchema))
  }

  /** Asymmetric-distance (ADC) top-k: the corpus is scanned as codes only;
    * each (broadcast) query sums its exact sub-distances to the centroids
    * its neighbor's codes select, subspaces left to right, in one scan over
    * the joined rows. Distances round to 4 places BEFORE ranking, so the
    * order reproduces cross-engine (engines' sum orders differ by ulps).
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Seq[Seq[Seq[Float]]],
      excludeSelf: Boolean = true): DataFrame = {
    val sub = codebooks.head.head.size
    val bc = broadcastCodebooks(corpus, codebooks)
    val c = encodeWith(corpus, idCol, vecCol, bc)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val joined = c.join(q, notSelf(excludeSelf))
    val codesAt = joined.schema.fieldIndex("codes")
    val qvAt = joined.schema.fieldIndex("__qv")
    val scored = joined.mapPartitions { it =>
      val cbs = bc.value
      it.map { r =>
        val codes = r.getSeq[Int](codesAt)
        val qv = r.getSeq[Float](qvAt).toArray
        var acc = 0.0
        var s = 0
        while (s < cbs.length) {
          val qslc = java.util.Arrays.copyOfRange(
            qv, math.min(qv.length, s * sub), math.min(qv.length, s * sub + sub))
          acc += graft.functions.VectorOps.l2sq(qslc, cbs(s)(codes(s)))
          s += 1
        }
        Row.fromSeq(r.toSeq :+ acc)
      }
    }(Encoders.row(StructType(joined.schema.fields :+ StructField("__rawdist", DoubleType))))
      .withColumn("dist", round(col("__rawdist"), 4))
    topK(scored, k, col("dist").asc, col("dist"))
  }
}
