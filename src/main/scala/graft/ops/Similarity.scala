package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`), DataFrame-native:
  *
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small) query
  *    set against the corpus; dot products via `aggregate(zip_with(...))`
  *    higher-order functions (codegen'd, no UDF). O(|Q|·|corpus|) — the
  *    baseline and the verifier for approximate variants.
  *  - [[lshTopK]] — random-hyperplane (sign) LSH: `numBits` fixed
  *    pseudo-random hyperplanes (seeded, data-independent) bucket the corpus;
  *    queries probe only their own bucket. The 100 TB path: bucketing is one
  *    shuffle; probe joins are equi-joins on the signature.
  */
object Similarity {

  /** Literal-projection gate for IVF/PQ centroid work: up to this many
    * centroids, distances against the quantizer are inlined as LITERAL
    * vectors in one codegen'd projection (no join, no row expansion — see
    * [[ivfTopK]]/[[pqEncode]]). Past it that expression stops being viable:
    * production IVF scale (k = 2^16 cells × 64 dims) would inline megabytes
    * of literals into the plan and generate methods far past the JVM's
    * 64 KB / JIT-inlining limits. Above the gate the operators switch to a
    * broadcast-variable scan kernel — centroids ship once per executor,
    * each row loops over them inside one `mapPartitions` pass (the
    * genuinely-imperative per-row-argmin shape; zero shuffles either way).
    * Both paths run IDENTICAL floating-point operations in IDENTICAL order
    * (the `Array[Float]` twins in [[graft.functions.VectorOps]]), proven
    * byte-equal in SimilarityGateSpec — same size-gate calculus as
    * [[Dedup.connectedComponents]]'s driverMaxEdges.
    */
  val defaultMaxLiteralCentroids = 256

  /** Scan-kernel cell ranking for centroid counts past the literal gate:
    * emits (outId, __vec, __cells = the `nRanked` best cell ids, best
    * first, ties by centroid order). `cents` MUST be sorted by cell id
    * ascending (both producers are: lowest-id seeds arrive via
    * `orderBy(id)`, trained centroids are indexed 0..k-1), which makes
    * index-order tie-breaking identical to the literal path's cid-asc
    * tie-break. Embeddings are assumed NaN-free (zero vectors would score
    * NaN against every centroid in BOTH paths).
    */
  private def rankedCellsScan(
      df: DataFrame,
      idCol: String,
      outId: String,
      vecCol: String,
      cents: Seq[(Any, Seq[Float])],
      nRanked: Int,
      cidType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
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

  /** cosine(a, b) with double accumulation, index order (reproducible).
    * The dot kernel is the native codegen [[graft.functions.DotProduct]]
    * expression — same FP order as the zip_with/aggregate formulation it
    * replaced, so results are bit-identical, without the intermediate array
    * or per-element lambda dispatch.
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = graft.functions.VectorOps.dot_f(x, y)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Literal-path cell ranking: (sim, cid) structs sorted best-first —
    * sim desc, ties by cid asc (the same order the round-1 window used).
    */
  private def rankedCellsExpr(vec: Column, cents: Seq[(Any, Seq[Float])]): Column =
    array_sort(
      array(cents.map { case (cid, cvec) =>
        struct(cosine(vec, typedLit(cvec)).as("sim"), lit(cid).as("cid"))
      }.toSeq: _*),
      (l, r) => when(l.getField("sim") > r.getField("sim"), -1)
        .when(l.getField("sim") < r.getField("sim"), 1)
        .when(l.getField("cid") < r.getField("cid"), -1)
        .when(l.getField("cid") > r.getField("cid"), 1)
        .otherwise(0))

  /** Shared quantizer-centroid derivation for [[ivfTopK]] and
    * [[semDedupPairs]] — ONE definition so the two consumers can never
    * drift: Lloyd-trained centroids indexed 0..k-1 when `trainIters > 0`,
    * else the k lowest-id vectors as deterministic seeds. Returns the
    * centroids plus the cell-id type. An empty corpus yields Nil for every
    * `trainIters`, checked before training (trainCentroids itself rejects
    * it), so both callers return their typed empty frame.
    */
  private def quantizerCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      trainIters: Int,
      maxLiteralCentroids: Int): (Seq[(Any, Seq[Float])], org.apache.spark.sql.types.DataType) = {
    val cents: Seq[(Any, Seq[Float])] =
      if (trainIters <= 0) df.select(col(idCol), col(vecCol))
        .orderBy(col(idCol)).limit(k).collect()
        .map(r => (r.get(0), r.getSeq[Float](1))).toSeq
      else if (df.isEmpty) Nil
      else trainCentroids(df, idCol, vecCol, k, trainIters, maxLiteralCentroids)
        .zipWithIndex.map { case (v, i) => (i: Any, v.toSeq) }
    val cidType =
      if (trainIters > 0) org.apache.spark.sql.types.IntegerType
      else df.select(col(idCol)).schema.head.dataType
    (cents, cidType)
  }

  /** Nearest-cell assignment, gated like ivfTopK: (idCol, __cid). */
  private def cellIds(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Any, Seq[Float])],
      cidType: org.apache.spark.sql.types.DataType,
      maxLiteralCentroids: Int): DataFrame =
    if (cents.size <= maxLiteralCentroids)
      df.select(col(idCol),
        element_at(rankedCellsExpr(col(vecCol), cents), 1)
          .getField("cid").as("__cid"))
    else rankedCellsScan(df, idCol, idCol, vecCol, cents, 1, cidType)
      .select(col(idCol), element_at(col("__cells"), 1).as("__cid"))

  /** Exact top-k cosine neighbors for each query vector.
    * `broadcastQueries = false` for query sets too large to broadcast: the
    * scoring becomes a shuffle join (still the exact O(|Q|·corpus) scan).
    * `excludeSelf` (default true) drops corpus rows whose id EQUALS the
    * query id — correct only when queries are drawn FROM the corpus; set
    * false when queries and corpus are separate tables that merely share
    * an id space, or a valid neighbor is silently lost. (The same flag
    * exists on lshTopK/ivfTopK/pqTopK.)
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      broadcastQueries: Boolean = true,
      excludeSelf: Boolean = true): DataFrame = {
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val q = if (broadcastQueries) broadcast(q0) else q0
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.join(q,
        if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("__rn").as("rank"))
  }

  /** Sign-LSH signature of `numBits` bits for an embedding column, using
    * hyperplanes `firstBit until firstBit + numBits` (the offset lets banded
    * callers draw independent planes per band). One native
    * [[graft.functions.SignSignature]] pass — bit-identical to the per-bit
    * `aggregate(zip_with(...))` formulation it replaced (see its scaladoc),
    * which cost numBits × dim interpreted evaluations per row.
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
      broadcastQueries: Boolean = true,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      signSignature(col(vecCol), numBits).as("__sig"))
    val q0 = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      signSignature(col(vecCol), numBits).as("__sig"))
    // large query sets: shuffle equi-join on the signature instead
    val q = if (broadcastQueries) broadcast(q0) else q0
    val scored = c.join(q, Seq("__sig"))
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("__rn").as("rank"))
  }

  /** Deterministic Lloyd's k-means for IVF coarse quantizers: seeds from
    * the k lowest-id vectors, then `iters` rounds of (assign via the same
    * literal-centroid projection ivfTopK uses → per-cell mean). Each round
    * is ONE map-side-combinable aggregation over the corpus — no windows,
    * no ×k expansion — and the driver holds only k vectors between rounds.
    * Deterministic end to end (no RNG; mean is computed with zip_with over
    * fixed dimension order), so trained centroids are reproducible across
    * runs and cluster sizes. Empty cells keep their previous centroid.
    */
  def trainCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      maxLiteralCentroids: Int = defaultMaxLiteralCentroids): Seq[Array[Float]] = {
    var cents: Seq[Array[Float]] = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    require(cents.nonEmpty, "trainCentroids: corpus is empty — no vectors to seed centroids from")
    for (_ <- 0 until iters) {
      // struct-free argmax (ties → smallest cid): first index whose cosine
      // equals the greatest. array_position evaluates each cosine once;
      // the when-chain fold it replaces duplicated every similarity into a
      // k-deep CASE (2·k cosines in one expression tree — JIT-hostile, see
      // pqEncode). Past the literal gate the assignment comes from the same
      // broadcast scan kernel ivfTopK uses (identical argmax tie rule).
      val assigned =
        if (cents.size <= maxLiteralCentroids) {
          val simArr = array(cents.map(cvec =>
            cosine(col(vecCol), typedLit(cvec.toSeq))): _*)
          val best = (array_position(simArr, array_max(simArr)) - 1).cast("int")
          corpus.select(best.as("__cid"), posexplode(col(vecCol)))
        } else rankedCellsScan(
            corpus, idCol, "__id", vecCol,
            cents.zipWithIndex.map { case (v, i) => (i: Any, v.toSeq) }, 1,
            org.apache.spark.sql.types.IntegerType)
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

  /** IVF (inverted-file / coarse-quantizer) approximate top-k: the corpus is
    * partitioned into `nCentroids` cells by nearest centroid; each query
    * probes only its `nProbe` nearest cells. Centroid "training" is
    * deterministic — the `nCentroids` lowest-id corpus vectors — so results
    * are reproducible without RNG state; swap in real k-means offline and
    * nothing else changes.
    *
    * Cell assignment is a pure PROJECTION: the (tiny) centroid list is
    * collected once at planning time and inlined as literal arrays, so each
    * row computes its nCentroids cosines and picks the best cells inside
    * one codegen'd expression — no join, no ×nCentroids row expansion, no
    * per-row argmax window shuffle (round 1's plan expanded the corpus
    * ×nCentroids and shuffled it just to take a max). The probe join stays
    * an equi-join on centroid id — the 100 TB path alongside [[lshTopK]],
    * with recall controlled by nProbe (nProbe = nCentroids degenerates to
    * exact brute force).
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
      maxLiteralCentroids: Int = defaultMaxLiteralCentroids,
      excludeSelf: Boolean = true): DataFrame = {
    // planning-time collect of nCentroids rows — same class of driver-side
    // scalar as Skew.detectHotKeys / Materialize.timestampBounds. With
    // trainIters > 0 the quantizer is Lloyd-refined ([[trainCentroids]]);
    // either way centroids are deterministic.
    val (cents, cidType0) =
      quantizerCentroids(corpus, idCol, vecCol, nCentroids, trainIters, maxLiteralCentroids)
    // empty corpus -> no centroids -> no neighbors: empty result, typed
    if (cents.isEmpty) {
      val qType = queries.select(col(idCol)).schema.head.dataType
      val cType = corpus.select(col(idCol)).schema.head.dataType
      return corpus.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id", qType),
          org.apache.spark.sql.types.StructField("neighbor_id", cType),
          org.apache.spark.sql.types.StructField("cos",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
    }

    val (corpusCells, queryCells) =
      if (cents.size <= maxLiteralCentroids) (
        corpus.select(
          col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
          element_at(rankedCellsExpr(col(vecCol), cents), 1)
            .getField("cid").as("__cid")),
        queries.select(
          col(idCol).as("query_id"), col(vecCol).as("__qv"),
          explode(transform(slice(rankedCellsExpr(col(vecCol), cents), 1, nProbe),
            c => c.getField("cid"))).as("__cid")))
      else {
        // past the literal gate: broadcast-kernel assignment (see
        // defaultMaxLiteralCentroids) — same outputs, same single-scan shape
        val cidType = cidType0
        (rankedCellsScan(corpus, idCol, "neighbor_id", vecCol, cents, 1, cidType)
           .select(col("neighbor_id"), col("__vec").as("__cv"),
             element_at(col("__cells"), 1).as("__cid")),
         rankedCellsScan(queries, idCol, "query_id", vecCol, cents, nProbe, cidType)
           .select(col("query_id"), col("__vec").as("__qv"),
             explode(col("__cells")).as("__cid")))
      }

    val scored = corpusCells.join(queryCells, Seq("__cid"))
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("__rn").as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * sign-LSH bucketed with banding — the near-dup variant of lshTopK,
    * false-positive free (candidates are verified with exact cosine).
    *
    * Scaling knobs (the round-2 version's FIXED 2^numBits buckets made the
    * within-bucket self-join (N/2^bits)² — quadratic at corpus scale):
    *
    *  - `targetBucketSize > 0` derives bits-per-band from the corpus count
    *    (one planning-time `count()`): bits = max(numBits,
    *    ceil(log2(N / target))), so expected bucket size stays ≈ target and
    *    candidate volume grows ~linearly in N (≈ N·target/2 per band).
    *  - `bands > 1` recovers the recall that more bits cost: a pair is a
    *    candidate if it agrees on ALL bits of ANY band (independent
    *    hyperplane sets per band) — the same S-curve trade as
    *    [[graft.ops.Dedup.minhashLsh]]'s banding. For vectors at angle θ,
    *    P(candidate) = 1 - (1 - (1-θ/π)^bits)^bands.
    *
    * Defaults (bands = 1, targetBucketSize = 0) reproduce the single-table
    * fixed-bits behavior bit-for-bit, so existing oracles are unchanged.
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
    // each band's signature is its OWN long column (firstBit only offsets
    // the hyperplane seeds), so the bound is per band, never bands × bits —
    // a bands×bits product cap would reject exactly the wide-band configs
    // the targetBucketSize knob derives for large corpora
    require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 60,
      s"bitsPerBand must be in [1, 60] (got $bitsPerBand, bands = $bands)")
    // candidate generation is NARROW (id, band, sig — 20 bytes/row through
    // the bucket shuffle); vectors are fetched only for the distinct
    // surviving pairs, so the wide embedding column never rides the
    // candidate join
    val sigged = df.select(
      col(idCol),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          signSignature(col(vecCol), bitsPerBand, firstBit = b * bitsPerBand).as("sig"))
      }: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("__band"), col("bs.sig").as("__sig"))
    val pairs = sigged.as("x").join(sigged.as("y"), Seq("__band", "__sig"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"))
      .distinct()
    val vecs = df.select(col(idCol), col(vecCol))
    pairs
      .join(vecs.select(col(idCol).as("id1"), col(vecCol).as("__v1")), Seq("id1"))
      .join(vecs.select(col(idCol).as("id2"), col(vecCol).as("__v2")), Seq("id2"))
      .withColumn("cos", cosine(col("__v1"), col("__v2")))
      .where(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
  }

  // -- SemDeDup (Abbas et al., arXiv:2303.09540) --------------------------

  /** Semantic near-duplicate PAIRS at embedding scale, SemDeDup-style:
    * cluster the corpus with the IVF coarse quantizer, then search for
    * duplicates ONLY within each cluster — the paper's O(Σ|cell|²) trick vs
    * the all-pairs N². The cell id is the shuffle key; candidate generation
    * is NARROW (id + cell — vectors are fetched per surviving pair exactly
    * like [[cosineNearDup]], so embeddings never ride the self-join); each
    * candidate is verified with exact cosine, so there are no false
    * positives — cell bounding only affects RECALL (cross-cell near-dups
    * are missed, the paper's accepted trade). Cell assignment re-uses the
    * gated literal/kernel path, so production centroid counts work
    * unchanged.
    *
    * The within-cell self-join is QUADRATIC in cell population — a
    * degenerate quantizer (every vector in one cell) silently turns it into
    * all-pairs N². `maxCellRows > 0` arms a planning-time guard (one count
    * over the narrow checkpointed assignment frame — the same
    * driver-side-scalar class as [[cosineNearDup]]'s targetBucketSize
    * derivation) that FAILS FAST with the offending cell size instead of
    * launching an N² join; the fix is more/better centroids (raise
    * `nCentroids`, or set `trainIters > 0` so Lloyd spreads the cells).
    * Default 0 keeps the guard off (existing oracles bit-identical).
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
      maxLiteralCentroids: Int = defaultMaxLiteralCentroids,
      maxCellRows: Long = 0L): DataFrame = {
    val (cents, cidType) =
      quantizerCentroids(df, idCol, vecCol, nCentroids, trainIters, maxLiteralCentroids)
    // empty corpus -> no centroids -> no cells: return the empty pairs
    // frame directly (rankedCellsExpr cannot type a zero-centroid array)
    if (cents.isEmpty) {
      val idType = df.select(col(idCol)).schema.head.dataType
      return df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id1", idType),
          org.apache.spark.sql.types.StructField("id2", idType),
          org.apache.spark.sql.types.StructField("cell", cidType),
          org.apache.spark.sql.types.StructField("cos",
            org.apache.spark.sql.types.DoubleType))))
    }
    // checkpoint: the assignment projection (k cosines per row, or the
    // kernel scan) feeds BOTH sides of the self-join — compute it once
    val asg = cellIds(df, idCol, vecCol, cents, cidType, maxLiteralCentroids)
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
    val pairs = asg.as("x").join(asg.as("y"), Seq("__cid"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"),
        col("__cid").as("cell"))
    val vecs = df.select(col(idCol), col(vecCol))
    pairs
      .join(vecs.select(col(idCol).as("id1"), col(vecCol).as("__v1")), Seq("id1"))
      .join(vecs.select(col(idCol).as("id2"), col(vecCol).as("__v2")), Seq("id2"))
      .withColumn("cos", cosine(col("__v1"), col("__v2")))
      .where(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cell"), round(col("cos"), 4).as("cos"))
  }

  /** Corpus after SemDeDup removal: one representative (minimum id, via
    * connected components over [[semDedupPairs]] — pairwise removal alone
    * over-deletes on chains) per semantic-duplicate group; rows in no pair
    * pass through.
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      threshold: Double,
      trainIters: Int = 0,
      maxLiteralCentroids: Int = defaultMaxLiteralCentroids,
      maxCellRows: Long = 0L): DataFrame = {
    val pairs = semDedupPairs(df, idCol, vecCol, nCentroids, threshold,
      trainIters, maxLiteralCentroids, maxCellRows).select(col("id1"), col("id2"))
    Dedup.dropNearDuplicates(df, idCol, pairs)
  }

  // -- Product quantization (Jégou/Douze/Schmid, TPAMI 2011) -------------

  /** Deterministic PQ codebooks `[subspace][centroid][dim]`: subspace s's k
    * centroids are the k lowest-id corpus vectors' s-th contiguous
    * sub-slices — the same no-RNG seeding contract as [[ivfTopK]] (swap in
    * per-subspace Lloyd offline; nothing downstream changes). Planning-time
    * collect of k rows, the documented driver-side-scalar class.
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

  /** Squared L2 between a (float) sub-vector column and a literal centroid:
    * widen to double BEFORE subtracting (exact for floats), accumulate in
    * index order — bit-reproducible cross-engine. The native codegen
    * [[graft.functions.L2SqDistance]] kernel performs those operations in
    * that order, so it is bit-identical to the zip_with/aggregate
    * formulation it replaced (m×k of these run per PQ-encoded row).
    */
  private def l2sq(a: Column, cvec: Seq[Float]): Column =
    graft.functions.VectorOps.l2sq_f(a, typedLit(cvec))

  /** PQ-encode every vector to an m-byte code array: per subspace, argmin
    * squared-L2 over the literal codebook (first index wins exact ties —
    * same tie rule as ROW_NUMBER ORDER BY dist, code). A pure PROJECTION,
    * exactly like [[ivfTopK]]'s cell assignment: each row computes m×k
    * distances inside one codegen'd expression — no join, no row expansion.
    * At 100 TB this replaces a 256-byte float vector with m bytes — the
    * point of PQ — and the encode pass is embarrassingly parallel.
    */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Seq[Seq[Seq[Float]]],
      maxLiteralCentroids: Int = defaultMaxLiteralCentroids): DataFrame = {
    val m = codebooks.size
    val sub = codebooks.head.head.size
    if (codebooks.head.size <= maxLiteralCentroids) {
      val codes = array((0 until m).map { s =>
        val slc = slice(col(vecCol), s * sub + 1, sub)
        // argmin with first-index-wins ties: array_position of the min value
        // evaluates each of the k distances ONCE — the when-chain fold it
        // replaces duplicated every distance into a k-deep CASE (2·k l2sq
        // calls per subspace in one expression tree), blowing the generated
        // method past JIT limits
        val darr = array(codebooks(s).map(cvec => l2sq(slc, cvec)): _*)
        (array_position(darr, array_min(darr)) - 1).cast("int")
      }: _*)
      corpus.select(col(idCol), codes.as("codes"))
    } else {
      // past the literal gate (see defaultMaxLiteralCentroids): broadcast
      // codebooks, per-row argmin loop with the SAME strict-< first-index-
      // wins tie rule and the same l2sq FP op order — byte-equal codes
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
      val bc = corpus.sparkSession.sparkContext.broadcast(
        codebooks.map(_.map(_.toArray).toArray).toArray)
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
  }

  /** Asymmetric-distance (ADC) top-k: the corpus is scanned as m-byte codes
    * only; each query computes its exact sub-distances to every codebook
    * centroid and scores a row by summing the table entries its codes
    * select. Queries broadcast (or shuffle-join when too many); distances
    * round to 4 decimals BEFORE ranking so ordering is reproducible
    * cross-engine (sum order differs between engines by ulps).
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Seq[Seq[Seq[Float]]],
      broadcastQueries: Boolean = true,
      maxLiteralCentroids: Int = defaultMaxLiteralCentroids,
      excludeSelf: Boolean = true): DataFrame = {
    val m = codebooks.size
    val sub = codebooks.head.head.size
    val c = pqEncode(corpus, idCol, vecCol, codebooks, maxLiteralCentroids)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val q = if (broadcastQueries) broadcast(q0) else q0
    val joined = c.join(q,
      if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
    val scored =
      if (codebooks.head.size <= maxLiteralCentroids) {
        val dist = (0 until m).map { s =>
          val qslc = slice(col("__qv"), s * sub + 1, sub)
          // codebook s as a literal array-of-arrays; the row's code selects one
          val cent = element_at(typedLit(codebooks(s)), element_at(col("codes"), s + 1) + 1)
          graft.functions.VectorOps.l2sq_f(qslc, cent)
        }.reduce[Column](_ + _)
        joined.withColumn("dist", round(dist, 4))
      } else {
        // past the literal gate (see defaultMaxLiteralCentroids): broadcast
        // codebooks and compute the ADC sum in a scan kernel — same l2sq op
        // order, same left-to-right subspace summation (0.0 + d0 == d0 for
        // the non-negative distances), rounding stays in the Column layer
        import org.apache.spark.sql.{Encoders, Row}
        import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
        val bc = corpus.sparkSession.sparkContext.broadcast(
          codebooks.map(_.map(_.toArray).toArray).toArray)
        val outSchema = StructType(joined.schema.fields :+
          StructField("__rawdist", DoubleType))
        joined.mapPartitions { it =>
          val cbs = bc.value
          it.map { r =>
            val codes = r.getSeq[Int](r.fieldIndex("codes"))
            val qv = r.getSeq[Float](r.fieldIndex("__qv")).toArray
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
        }(Encoders.row(outSchema))
          .withColumn("dist", round(col("__rawdist"), 4))
      }
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("neighbor_id").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dist"), col("__rn").as("rank"))
  }
}
