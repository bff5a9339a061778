package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The IVF/PQ literal-projection gate (Similarity.defaultMaxLiteralCentroids):
  * above the gate, centroid assignment / PQ encode / ADC scoring switch from
  * inlined-literal expressions to a broadcast-variable scan kernel. These
  * specs force BOTH paths on the same corpus (gate = 1 forces the kernel;
  * the default keeps the literal path for the small fixture ks) and assert
  * byte-equality of every output — the contract the kernels were written to
  * (identical FP ops in identical order, identical tie rules).
  */
class SimilarityGateSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = {
    val rnd = new scala.util.Random(11)
    (0L until 48L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
  }
  private lazy val df = vecs.toDF("vec_id", "embedding")
  private lazy val queries = df.where(col("vec_id") < 6)

  private def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  test("ivfTopK: kernel path equals literal path exactly (seeded centroids)") {
    val lit = Similarity.ivfTopK(df, queries, "vec_id", "embedding",
      k = 3, nCentroids = 8, nProbe = 3)
    val ker = Similarity.ivfTopK(df, queries, "vec_id", "embedding",
      k = 3, nCentroids = 8, nProbe = 3, maxLiteralCentroids = 1)
    assert(rows(lit) == rows(ker))
    assert(rows(lit).nonEmpty)
  }

  test("ivfTopK: kernel path equals literal path exactly (trained centroids)") {
    val lit = Similarity.ivfTopK(df, queries, "vec_id", "embedding",
      k = 3, nCentroids = 4, nProbe = 2, trainIters = 2)
    val ker = Similarity.ivfTopK(df, queries, "vec_id", "embedding",
      k = 3, nCentroids = 4, nProbe = 2, trainIters = 2,
      maxLiteralCentroids = 1)
    assert(rows(lit) == rows(ker))
    assert(rows(lit).nonEmpty)
  }

  test("trainCentroids: kernel assignment trains identical centroids") {
    val lit = Similarity.trainCentroids(df, "vec_id", "embedding", k = 4, iters = 3)
    val ker = Similarity.trainCentroids(df, "vec_id", "embedding", k = 4, iters = 3,
      maxLiteralCentroids = 1)
    assert(lit.map(_.toSeq) == ker.map(_.toSeq))
  }

  test("pqEncode: kernel codes are byte-equal to literal codes") {
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, k = 8)
    val lit = Similarity.pqEncode(df, "vec_id", "embedding", books)
    val ker = Similarity.pqEncode(df, "vec_id", "embedding", books,
      maxLiteralCentroids = 1)
    assert(rows(lit) == rows(ker))
    assert(lit.count() == 48)
  }

  test("semDedup: planted duplicates found within cells, one representative kept, kernel == literal") {
    val planted = Seq((100L, vecs(3)._2), (101L, vecs(3)._2)) // exact copies of vec 3
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
    val ker = Similarity.semDedupPairs(df2, "vec_id", "embedding",
      nCentroids = 4, threshold = 0.999, maxLiteralCentroids = 1)
    assert(rows(pairs) == rows(ker))
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

  test("pqTopK: kernel ADC ranking equals literal ADC ranking exactly") {
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, k = 8)
    val lit = Similarity.pqTopK(df, queries, "vec_id", "embedding", k = 3, books)
    val ker = Similarity.pqTopK(df, queries, "vec_id", "embedding", k = 3, books,
      maxLiteralCentroids = 1)
    assert(rows(lit) == rows(ker))
    assert(rows(lit).nonEmpty)
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
