package graft.ops

import graft.SparkSpec

/** SemDeDup over the centroid scan kernel: planted duplicates, the
  * one-cell result against an all-pairs cosine oracle (which fences the
  * shared cosine verify tail), the cell-size guard, and the empty-corpus
  * contract shared with ivfTopK. The kernel's IVF/PQ/Lloyd outputs are
  * checked against independent oracles in OpsSpec.
  */
class SimilarityGateSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = {
    val rnd = new scala.util.Random(11)
    (0L until 48L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
  }
  private lazy val df = vecs.toDF("vec_id", "embedding")

  private def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  private val planted = Seq((100L, vecs(3)._2), (101L, vecs(3)._2)) // exact copies of vec 3

  test("semDedup: planted duplicates found within cells, one representative kept") {
    val df2 = (vecs ++ planted).toDF("vec_id", "embedding")
    val pairs = Similarity.semDedupPairs(df2, "vec_id", "embedding",
      nCentroids = 4, threshold = 0.999)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 100L), (3L, 101L), (100L, 101L))) // full clique, in-cell
    val kept = Similarity.semDedup(df2, "vec_id", "embedding",
      nCentroids = 4, threshold = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(3L) && !kept.contains(100L) && !kept.contains(101L))
    assert(kept.size == vecs.size) // everything else passes through
  }

  test("semDedupPairs with one cell equals an in-memory all-pairs cosine oracle") {
    // one centroid (the lowest id, 0) puts every vector in cell 0, so the
    // operator must return exactly the all-pairs cosine join: double dot
    // products in index order, the threshold on the UNROUNDED cosine, then
    // the output rounded half-up to 4 decimals
    val all = vecs ++ planted
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
    val threshold = 0.2
    val expected = (for {
      (i, a) <- all
      (j, b) <- all
      if i < j
      cos = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      if cos >= threshold
    } yield (i, j, 0L,
      BigDecimal(cos).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).sorted
    val got = Similarity.semDedupPairs(all.toDF("vec_id", "embedding"), "vec_id", "embedding",
      nCentroids = 1, threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    assert(expected.size > 100, s"oracle too sparse to fence the verify tail: ${expected.size}")
    assert(got == expected)
  }

  test("semDedup cell-size guard: a degenerate one-cell quantizer fails fast") {
    // every vector identical -> the coarse quantizer puts ALL rows in one
    // cell; the guard must refuse the N² self-join with an actionable error
    val one = Array.fill(16)(1.0f)
    val degenerate = (0L until 40L).map(i => (i, one)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedupPairs(degenerate, "vec_id", "embedding",
        nCentroids = 4, threshold = 0.9, maxCellRows = 10L)
    }
    assert(e.getMessage.contains("cell-size guard"))
    assert(e.getMessage.contains("nCentroids"))
    // a healthy corpus under the same bound passes and results are unchanged
    val guarded = Similarity.semDedupPairs(df, "vec_id", "embedding",
      nCentroids = 8, threshold = 0.2, maxCellRows = 48L)
    val unguarded = Similarity.semDedupPairs(df, "vec_id", "embedding",
      nCentroids = 8, threshold = 0.2)
    assert(rows(guarded) == rows(unguarded))
    // empty corpus: max() over zero rows is NULL — guard passes vacuously
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semDedupPairs(empty, "vec_id", "embedding",
      nCentroids = 4, threshold = 0.9, maxCellRows = 10L).count() == 0L)
  }

  test("empty corpus: ivfTopK and semDedupPairs return a typed empty frame for any trainIters") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    for (iters <- Seq(0, 3)) {
      val ivf = Similarity.ivfTopK(empty, empty, "vec_id", "embedding",
        k = 3, nCentroids = 4, nProbe = 2, trainIters = iters)
      assert(ivf.count() == 0L)
      assert(ivf.columns.toSeq == Seq("query_id", "neighbor_id", "cos", "rank"))
      assert(ivf.schema("neighbor_id").dataType == org.apache.spark.sql.types.LongType)
      val pairs = Similarity.semDedupPairs(empty, "vec_id", "embedding",
        nCentroids = 4, threshold = 0.9, trainIters = iters)
      assert(pairs.count() == 0L)
      assert(pairs.columns.toSeq == Seq("id1", "id2", "cell", "cos"))
      // cell ids are trained indices (int) or seed vector ids (the id type)
      assert(pairs.schema("cell").dataType == (if (iters > 0)
        org.apache.spark.sql.types.IntegerType else org.apache.spark.sql.types.LongType))
    }
    // direct callers of the trainer still get the loud contract
    intercept[IllegalArgumentException] {
      Similarity.trainCentroids(empty, "vec_id", "embedding", k = 4, iters = 3)
    }
  }
}
