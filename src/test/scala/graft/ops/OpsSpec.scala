package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Training-data curation ops vs independent oracles: exact & near dedup
  * (Jaccard, MinHash+LSH, SimHash), similarity search (brute-force cosine,
  * sign-LSH), and text analysis.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different content about spark catalyst optimizer internals here"),
    (5L, "another unrelated document discussing parquet columnar file formats"),
    (6L, "the quick brown fox jumps over the lazy dog near the river delta today")) // near dup of 1
    .toDF("doc_id", "text")

  private def naiveJaccard(a: String, b: String, n: Int): Double = {
    def sh(s: String) = s.split(" ").sliding(n).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    x.intersect(y).size.toDouble / x.union(y).size
  }

  test("exact dedup groups identical content, keeps min id") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 2L) // docs 1+2 collapse onto id 1
    assert(out.keySet == Set(1L, 3L, 4L, 5L, 6L))
  }

  test("exactByDigest equals exact (ids + counts) and never shuffles text") {
    val byText = Dedup.exact(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val byDigest = Dedup.exactByDigest(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDigest == byText)
    // paranoia mode passes on a collision-free corpus
    val verified = Dedup.exactByDigest(docs, "text", "doc_id", verifyCollisions = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(verified == byText)
    // the aggregate's exchange is keyed on the digest pair, not the text col
    val plan = Dedup.exactByDigest(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(exchangeLines.forall(l => l.contains("__d1") && !l.contains("text#")),
      s"dedup exchange must be digest-keyed:\n$plan")
  }

  test("ngramJaccard matches the naive pairwise oracle") {
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = (for {
      i <- texts.keys; j <- texts.keys if i < j
      sim = naiveJaccard(texts(i), texts(j), 3) if sim >= 0.3
    } yield (i, j) -> math.round(sim * 1e6) / 1e6).toMap
    val got = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == expected)
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1.0)
  }

  test("ngramJaccardPrefix equals ngramJaccard at every threshold (lossless pruning)") {
    // fixture docs + randomized word soup to exercise varied set sizes
    val rnd = new scala.util.Random(13L)
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    val noisy = (10L until 40L).map(i =>
      (i, (0 until rnd.nextInt(25) + 5).map(_ => words(rnd.nextInt(words.length))).mkString(" ")))
    val all = docs.union(noisy.toDF("doc_id", "text"))
    for (t <- Seq(0.1, 0.3, 0.5, 0.8)) {
      def collectPairs(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val plain = collectPairs(Dedup.ngramJaccard(all, "doc_id", "text", 3, t))
      val prefix = collectPairs(Dedup.ngramJaccardPrefix(all, "doc_id", "text", 3, t))
      assert(prefix == plain, s"threshold $t")
    }
  }

  test("ngramJaccard maxDf cap: no-op below the cap; exact scores above it") {
    // below the cap: output identical to the uncapped plan
    val uncapped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.3, maxDf = Some(1000L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped == uncapped)
    // cap exceeded: a boilerplate prefix shared by ALL docs is dropped from
    // candidate generation, but reported scores stay exact over ALL shingles
    val boiler = (0 until 6).map(i => s"common boilerplate header text plus unique$i tail$i body$i").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val tiny = Dedup.ngramJaccard(boiler, "doc_id", "text", 3, 0.1, maxDf = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every shared shingle here is the all-docs boilerplate (df=6 > cap=3),
    // so no pair survives candidate generation
    assert(tiny.isEmpty)
    // with a rare discriminative shingle shared by two docs, the pair is
    // found and its jaccard counts the boilerplate shingles too (exact)
    val mixed = boiler.union(Seq(
      (100L, "common boilerplate header text plus special marker phrase here"),
      (101L, "common boilerplate header text plus special marker phrase there"))
      .toDF("doc_id", "text"))
    val got = Dedup.ngramJaccard(mixed, "doc_id", "text", 3, 0.1, maxDf = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.contains((100L, 101L)))
    val texts = Map(
      100L -> "common boilerplate header text plus special marker phrase here",
      101L -> "common boilerplate header text plus special marker phrase there")
    assert(math.abs(got((100L, 101L)) - naiveJaccard(texts(100L), texts(101L), 3)) < 1e-5)
  }

  test("containment decontamination matches a naive set-containment oracle") {
    // doc 50 fully embeds doc 1's text (classic eval-leak shape)
    val corpus = docs.union(Seq(
      (50L, "prefix words here then the quick brown fox jumps over the lazy dog near the river bank today and a long suffix tail"),
      (51L, "entirely unrelated long document with many distinct words and no overlap at all present"))
      .toDF("doc_id", "text"))
    val bench = docs.where(col("doc_id") === 1L)
    val got = Dedup.containment(corpus, bench, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def sh(s: String) = s.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val benchSet = sh(texts(1L))
    val expected = texts.collect {
      case (id, t) if sh(t).intersect(benchSet).size.toDouble / benchSet.size >= 0.5 =>
        (id, 1L) -> math.round(
          sh(t).intersect(benchSet).size.toDouble / benchSet.size * 1e6) / 1e6
    }.toMap
    assert(got == expected)
    assert(got.contains((50L, 1L))) // the embedded copy is caught
    assert(!got.contains((51L, 1L)))
  }

  test("repetitionRatio: fraction of repeated n-grams, 0 for short docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c a b c a b c"), // 7 trigrams: distinct {abc,bca,cab} → 4/7 repeats
      (2L, "all words unique in this one sentence"),
      (3L, "a b")) // shorter than n
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextStats.repetitionRatio(col("text"), 3).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == math.round(4.0 / 7 * 1e6) / 1e6)
    assert(out(2L) == 0.0)
    assert(out(3L) == 0.0)
  }

  test("minhashLsh: exact duplicates always collide; scores are exact Jaccard") {
    val got = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical docs share every band — guaranteed candidate, jaccard 1.0
    assert(got((1L, 2L)) == 1.0)
    // verification is exact: every reported score equals naive Jaccard
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (((a, b), s) <- got)
      assert(math.abs(s - naiveJaccard(texts(a), texts(b), 3)) < 1e-6)
    // no false positives below threshold
    assert(got.values.forall(_ >= 0.3))
  }

  test("simhashPairs: identical docs at hamming 0; reported hamming is exact") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", shingleN = 3, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got((1L, 2L)) == 0)
    // cross-check against directly computed fingerprints
    val fps = Dedup.simhash(Dedup.wordShingles(docs, "doc_id", "text", 3), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (((a, b), d) <- got)
      assert(java.lang.Long.bitCount(fps(a) ^ fps(b)) == d)
  }

  private val vecs = {
    val rnd = new scala.util.Random(7)
    (0L until 40L).map { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      (i, base)
    }
  }

  test("bruteForceTopK matches a naive cosine scan (ordering + scores)") {
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.where(col("vec_id") < 5), "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val lookup = vecs.toMap
    for (q <- 0L until 5L) {
      val ranked = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(lookup(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3)
      ranked.zipWithIndex.foreach { case ((id, _), i) =>
        assert(out((q, i + 1)) == id, s"query $q rank ${i + 1}")
      }
    }
  }

  test("lshTopK: a query always finds an identical vector (same bucket)") {
    // corpus contains an exact copy of each query vector under a new id
    val copies = vecs.take(5).map { case (i, v) => (i + 100L, v) }
    val df = (vecs ++ copies).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(df, df.where(col("vec_id") < 5), "vec_id", "embedding",
      k = 1, numBits = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for (q <- 0L until 5L) {
      val (nb, c) = out(q)
      assert(nb == q + 100L, s"query $q: identical copy must be rank 1, got $nb")
      assert(math.abs(c - 1.0) < 1e-3)
    }
  }

  test("redactPii masks emails, IPv4s, long digit runs; leaves prose intact") {
    import spark.implicits._
    val out = Seq(
      "write to john.doe+spam@sub.example.co.uk today",
      "server at 192.168.001.12 port 8080 acct 12345678 ok",
      "short numbers 123 42 stay, year 2024 stays")
      .toDF("text")
      .select(TextStats.redactPii(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "server at <IP> port 8080 acct <NUM> ok")
    assert(out(2) == "short numbers 123 42 stay, year 2024 stays")
  }

  test("connectedComponents: chains, stars, disjoint clusters, representative filter") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter test), star 10-{11,12,13}, singleton pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (10L, 13L), (20L, 21L)).toDF("id1", "id2")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
    // distributed escalation path (forced via driverMaxEdges = 0): the
    // shallow graph converges inside the hash-min head and agrees with the
    // driver union-find path
    val distComp = Dedup.connectedComponents(pairs, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distComp == comp)
    // long chain (diameter 40): the hash-min head CANNOT converge, the run
    // escalates to star and still converges (star's round count is fenced
    // in the next test)
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    val chainComp = Dedup.connectedComponents(chain, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(1)).toSet
    assert(chainComp == Set(0L))
    // string ids: driver union-find orders via Comparable (lexicographic min)
    val sPairs = Seq(("docB", "docA"), ("docC", "docB"), ("docZ", "docY"))
      .toDF("id1", "id2")
    val sComp = Dedup.connectedComponents(sPairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sComp == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "docY" -> "docY", "docZ" -> "docY"))
    // dropNearDuplicates keeps one representative per cluster + unmatched rows
    val corpus = (1L to 25L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(corpus, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == ((1L to 25L).toSet -- Set(2L, 3L, 4L, 11L, 12L, 13L, 21L)))
  }

  test("star ≡ hash-min ≡ union-find; star rounds are diameter-independent") {
    import spark.implicits._
    import java.util.concurrent.atomic.AtomicInteger
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // random multigraph incl. self-pairs and isolated nodes
    val rnd = new scala.util.Random(5)
    val pairs = (0 until 300)
      .map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .toDF("id1", "id2")
    val und = pairs.select(least(col("id1"), col("id2")).as("a"),
      greatest(col("id1"), col("id2")).as("b")).distinct()
    val star = toMap(Dedup.starComponents(und))
    val hashMin = toMap(Dedup.hashMinComponents(und, maxIter = 130))
    val unionFind = toMap(Dedup.connectedComponents(pairs)) // driver path
    assert(star == hashMin)
    assert(star == unionFind)
    // chain of diameter 64: hash-min pays one round per hop, star stays log²
    val chainUnd = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val starRounds = new AtomicInteger
    val hmRounds = new AtomicInteger
    val sLab = toMap(Dedup.starComponents(chainUnd, maxIter = 25, rounds = starRounds))
    val hLab = toMap(Dedup.hashMinComponents(chainUnd, maxIter = 130, rounds = hmRounds))
    assert(sLab == hLab && sLab.values.toSet == Set(0L))
    assert(starRounds.get <= 8, s"star took ${starRounds.get} rounds")
    assert(hmRounds.get >= 30, s"hash-min took only ${hmRounds.get} rounds")
  }

  test("binary ids: driver union-find ≡ distributed path (value equality, unsigned min)") {
    import spark.implicits._
    // the same binary id arrives from DIFFERENT rows as DIFFERENT Array[Byte]
    // instances — the driver path must key them by VALUE, not reference.
    // 0x80 > 0x01 unsigned: representative election must use unsigned order
    // (Spark BinaryType `least`), not signed byte comparison.
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val pairs = Seq(
      (b(0x80), b(0x01)), (b(0x01), b(0x7f)), // component {01, 7f, 80} -> 01
      (b(0xff, 0x00), b(0xfe))) // component {fe, ff00} -> fe
      .toDF("id1", "id2")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        r.getAs[Array[Byte]](0).toSeq -> r.getAs[Array[Byte]](1).toSeq
      }.toMap
    val driver = toMap(Dedup.connectedComponents(pairs))
    val dist = toMap(Dedup.connectedComponents(pairs, driverMaxEdges = 0L))
    val expected = Map(
      b(0x01).toSeq -> b(0x01).toSeq, b(0x7f).toSeq -> b(0x01).toSeq,
      b(0x80).toSeq -> b(0x01).toSeq,
      b(0xfe).toSeq -> b(0xfe).toSeq, b(0xff, 0x00).toSeq -> b(0xfe).toSeq)
    assert(driver == expected) // one row per id — no reference-identity dupes
    assert(dist == expected)
  }

  test("cosineNearDup: banded + corpus-scaled finds identical pairs; every pair verified") {
    val copies = vecs.take(8).map { case (i, v) => (i + 100L, v) }
    val df = (vecs ++ copies).toDF("vec_id", "embedding")
    // banded, corpus-scaled bits: identical vectors agree on every band
    val out = Similarity.cosineNearDup(df, "vec_id", "embedding",
      numBits = 4, threshold = 0.999, bands = 4, targetBucketSize = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for (q <- 0L until 8L)
      assert(out.exists(p => p._1 == q && p._2 == q + 100L),
        s"identical pair ($q, ${q + 100L}) missed")
    // exactness: no reported cos below threshold (false-positive free)
    assert(out.forall(_._3 >= 0.999))
    // single-band fixed-bits path reports the same identical pairs
    val plain = Similarity.cosineNearDup(df, "vec_id", "embedding",
      numBits = 4, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for (q <- 0L until 8L) assert(plain.contains((q, q + 100L)))
    // wide-band config: each band is its OWN long column, so bands × bits
    // may exceed 63 (the targetBucketSize knob derives exactly such configs
    // on large corpora — a product cap used to reject them at plan time)
    val wide = Similarity.cosineNearDup(df, "vec_id", "embedding",
      numBits = 20, threshold = 0.999, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for (q <- 0L until 8L) assert(wide.contains((q, q + 100L)))
  }

  test("topK excludeSelf=false: a same-id corpus row is a legal neighbor (separate tables)") {
    // queries and corpus are DIFFERENT tables sharing an id space: query 0's
    // vector equals corpus row 0's — with excludeSelf=false it must surface
    // as the rank-1 neighbor instead of being silently dropped
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = vecs.take(3).toDF("vec_id", "embedding")
    val withSelf = Similarity.bruteForceTopK(
      corpus, queries, "vec_id", "embedding", k = 1, excludeSelf = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for (q <- 0L until 3L) assert(withSelf(q) == ((q, 1.0)), s"query $q self-neighbor")
    val without = Similarity.bruteForceTopK(
      corpus, queries, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (q <- 0L until 3L) assert(without(q) != q)
  }

  test("ivfTopK: full probe equals brute force; single probe finds the identical vector") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 5)
    // nProbe = nCentroids → every query scans every cell: exact brute force
    val full = Similarity.ivfTopK(df, queries, "vec_id", "embedding",
        k = 3, nCentroids = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val brute = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(full == brute)
    // nProbe = 1: an identical copy lands in the query's own cell
    val copies = vecs.take(5).map { case (i, v) => (i + 100L, v) }
    val df2 = (vecs ++ copies).toDF("vec_id", "embedding")
    val one = Similarity.ivfTopK(df2, df2.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 1, nCentroids = 4, nProbe = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for (q <- 0L until 5L) {
      val (nb, c) = one(q)
      assert(nb == q + 100L, s"query $q: identical copy must be rank 1, got $nb")
      assert(math.abs(c - 1.0) < 1e-3)
    }
  }

  test("GraftExtensions registers the native expressions as SQL functions") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT rolling_hash('abc') AS h, " +
        "dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "      array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
        "mix61(12345L, 7L) AS m").head()
    assert(r.getLong(0) == graft.functions.RollingHash.hash("abc"))
    assert(r.getDouble(1) == 11.0)
    assert(r.getLong(2) == graft.functions.Mix61.mix(12345L, 7L))
  }

  test("native dot_f equals the zip_with/aggregate dot bit-for-bit") {
    import graft.functions.VectorOps
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = df.as("x").join(df.as("y"), col("x.vec_id") < col("y.vec_id"))
    def hoDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (u, v) => u.cast("double") * v.cast("double")),
        lit(0.0), (acc, z) => acc + z)
    val out = pairs.select(
      VectorOps.dot_f(col("x.embedding"), col("y.embedding")).as("native"),
      hoDot(col("x.embedding"), col("y.embedding")).as("ho"))
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact, not approx
  }

  test("trainCentroids: deterministic Lloyd refinement recovers planted cluster means") {
    import spark.implicits._
    // two well-separated planted clusters in 8-d
    val rnd = new scala.util.Random(3)
    val centers = Seq(Array.fill(8)(5.0f), Array.fill(8)(-5.0f))
    val pts = (0L until 60L).map { i =>
      val c = centers((i % 2).toInt)
      (i, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val t1 = Similarity.trainCentroids(df, "vec_id", "embedding", k = 2, iters = 3)
    val t2 = Similarity.trainCentroids(df, "vec_id", "embedding", k = 2, iters = 3)
    // deterministic across runs
    assert(t1.zip(t2).forall { case (a, b) => a.sameElements(b) })
    // each trained centroid points at one planted cluster (cosine ≈ 1)
    def cos(a: Array[Float], b: Array[Float]) = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val matched = centers.map(c => t1.map(t => cos(t, c)).max)
    assert(matched.forall(_ > 0.999), s"centroids $matched")
    // refined quantizer keeps the identical-copy guarantee of the IVF probe
    val copies = pts.take(5).map { case (i, v) => (i + 100L, v) }
    val df2 = (pts ++ copies).toDF("vec_id", "embedding")
    val one = Similarity.ivfTopK(df2, df2.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 1, nCentroids = 2, nProbe = 1, trainIters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (q <- 0L until 5L) assert(one(q) == q + 100L)
  }

  test("ivfTopK recall@5 vs brute force is bounded below (nProbe=2 of 8 cells)") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 8)
    def neighborSets(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = neighborSets(
      Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5))
    val ivf = neighborSets(
      Similarity.ivfTopK(df, queries, "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 2))
    val recalls = brute.keys.toSeq.map { q =>
      ivf.getOrElse(q, Set.empty).intersect(brute(q)).size.toDouble / brute(q).size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.4, s"mean recall@5 $meanRecall below floor")
    // exactness is NOT expected at nProbe<nCentroids, but reported cosines
    // for returned neighbors must equal the brute-force cosine
    val bruteCos = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 39)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfCos = Similarity.ivfTopK(df, queries, "vec_id", "embedding", 5, 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((pair, c) <- ivfCos) assert(math.abs(c - bruteCos(pair)) < 1e-9, s"$pair")
  }

  test("ImageCodec: PNG round-trip recovers exact pixel means (lossless decode)") {
    val id = 7L; val w = 20; val h = 14
    val png = Multimodal.ImageCodec.syntheticPng(id, w, h)
    val feat = Multimodal.ImageCodec.decodeAndEmbed(png)
    assert(feat.length == Multimodal.ImageCodec.FeatureDim)
    assert(feat(0) == w.toFloat && feat(1) == h.toFloat)
    // expected channel means computed independently from the pixel generator
    var r = 0L; var g = 0L; var b = 0L
    for (y <- 0 until h; x <- 0 until w) {
      r += ((id * 31 + x * 7 + y * 13) % 256).toInt
      g += ((id * 17 + x * 11 + y * 3) % 256).toInt
      b += ((id * 5 + x * 13 + y * 29) % 256).toInt
    }
    val n = (w.toLong * h * 255).toFloat
    assert(feat(2) == r / n && feat(3) == g / n && feat(4) == b / n)
    // corrupt payload → empty feature, no crash (null-handling contract)
    assert(Multimodal.ImageCodec.decodeAndEmbed(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("extractFeatures: real decode for images, stub dims for audio/video") {
    val out = Multimodal.extractFeatures(Multimodal.syntheticAssets(spark, 30)).collect()
    assert(out.length == 30)
    for (f <- out)
      if (f.kind == "image") assert(f.feature.length == Multimodal.ImageCodec.FeatureDim)
      else assert(f.feature.length == Multimodal.StubCodec.FeatureDim)
    // distributed decode equals a local decode of the same synthetic PNG
    val img0 = out.find(_.asset_id == 0L).get
    val expected = Multimodal.ImageCodec.decodeAndEmbed(
      Multimodal.ImageCodec.syntheticPng(0L, 16, 12))
    assert(img0.feature.sameElements(expected))
  }

  test("text stats: token count, stopword ratio, fingerprint determinism") {
    val out = docs.select(
      col("doc_id"),
      TextStats.tokenCount(col("text")).as("n"),
      TextStats.stopwordRatio(col("text")).as("sr"),
      TextStats.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out(1L)._1 == 14) // 14 whitespace tokens
    assert(out(1L)._2 > 0.0 && out(1L)._2 < 1.0)
    // identical text → identical fingerprint; different text → different
    assert(out(1L)._3 == out(2L)._3)
    assert(out(1L)._3 != out(4L)._3)
  }

  test("lineDedup matches a naive keep-first oracle and reassembles in order") {
    val multi = Seq(
      (1L, "alpha beta\ncommon line\ngamma delta"),
      (2L, "common line\nunique two\ncommon line"), // cross-doc + within-doc dup
      (3L, "unique three\ncommon line"),
      (4L, "common line"), // every line claimed elsewhere -> empty doc
      (5L, "alpha beta\nalpha beta")) // within-doc dup of a claimed line
      .toDF("doc_id", "text")
    // naive oracle: global keep-first by (doc_id, pos), then reassemble
    val input = multi.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val seen = scala.collection.mutable.Set[String]()
    val expected = input.toSeq.sortBy(_._1).map { case (id, text) =>
      val lines = text.split("\n", -1)
      val kept = lines.filter(l => seen.add(l))
      id -> ((lines.length.toLong, kept.length.toLong, kept.mkString("\n")))
    }.toMap
    val got = Dedup.lineDedup(multi, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == expected)
    assert(got(4L) == ((1L, 0L, ""))) // fully-claimed doc surfaces empty, not dropped
    assert(got(2L)._3 == "unique two") // doc 1 claimed "common line" first
  }

  test("containmentBloom equals containment exactly; the bitmap really filters") {
    val rnd = new scala.util.Random(31L)
    val vocab = Array.tabulate(400)(i => s"v$i")
    val docs = (0 until 120).map { i =>
      val w = (0 until 40).map(_ => vocab(rnd.nextInt(vocab.length)))
      // docs ending in 9 fully embed bench doc (i % 10)'s text — planted leaks
      val text = if (i >= 20 && i % 10 == 9)
        (w ++ (0 until 40).map(j => vocab((i % 10 * 7 + j) % vocab.length))).mkString(" ")
      else w.mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val bench = docs.where(col("doc_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = rows(Dedup.containment(docs, bench, "doc_id", "text", 3, 0.3))
    // tiny bitmap (high fpr) — the exact-verify join must still kill every FP
    for (mBits <- Seq(1L << 12, 1L << 20)) {
      val bloom = rows(Dedup.containmentBloom(docs, bench, "doc_id", "text", 3, 0.3,
        mBits = mBits, k = 4))
      assert(bloom == plain, s"mBits=$mBits")
    }
    assert(plain.nonEmpty)
    // direct probe semantics: every inserted value hits; selectivity is real
    val hashes = Dedup.wordShingles(bench, "doc_id", "text", 3)
      .select(col("shingle")).distinct()
    val bm = graft.functions.BloomFilter61.build(hashes, "shingle", 1L << 20, 4)
    val inserted = hashes.collect().map(_.getLong(0))
    assert(inserted.forall(graft.functions.BloomFilter61.mightContain(bm, _, 4)))
    val misses = (0 until 10000).map(i => graft.functions.Mix61.mix(i.toLong, 999L))
      .count(!graft.functions.BloomFilter61.mightContain(bm, _, 4))
    assert(misses > 9500) // fpr well under 5% at ~1k items in 1M bits
  }

  test("duplicatedSpans/maskDuplicatedSpans match a naive span-count oracle") {
    val n = 4
    val rnd = new scala.util.Random(11L)
    // small alphabet + planted repeats so 4-spans genuinely collide, both
    // across documents and (for i % 3 == 0) within one document
    val docs = (0 until 60).map { i =>
      val base = Array.fill(rnd.nextInt(30) + 10)(rnd.nextInt(5))
      val toks = if (i % 3 == 0) base ++ Array(1, 2, 3, 4, 1, 2, 3, 4) else base
      (i.toLong, toks)
    }
    val df = docs.toDF("doc_id", "tokens")
    // naive oracle over span CONTENT (hash-free); the assertion then checks
    // the operator's rolling-hash span ids against the mirrored Scala hash
    val all = docs.flatMap { case (id, t) =>
      t.sliding(n).zipWithIndex.collect { case (s, p) if s.length == n => (id, p, s.toList) }
    }
    val counts = all.groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
    val expected = all.filter(a => counts(a._3) >= 2).map { case (id, p, s) =>
      (id, p, graft.functions.RollingHash.hash(s.mkString(" ")), counts(s))
    }.toSet
    val got = Dedup.duplicatedSpans(df, "doc_id", "tokens", n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    assert(got.nonEmpty)

    val covered = all.filter(a => counts(a._3) >= 2)
      .groupBy(_._1).map { case (id, occ) =>
        id -> occ.flatMap { case (_, p, _) => p until p + n }.toSet
      }
    val masked = Dedup.maskDuplicatedSpans(df, "doc_id", "tokens", n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getSeq[Int](3).toList)))
      .toMap
    assert(masked.keySet == docs.map(_._1).toSet) // no doc dropped by the left join
    docs.foreach { case (id, t) =>
      val cov = covered.getOrElse(id, Set.empty[Int])
      val exp = t.toList.zipWithIndex.map { case (tok, i) => if (cov(i)) -1 else tok }
      assert(masked(id) == ((t.length.toLong, cov.size.toLong, exp)))
    }
  }

  test("gopherRules indicators and conjunction match hand-computed values") {
    val texts = Seq(
      (1L, "the cat and the dog ran to the big park with a friend today again"), // passes all (15 words, stopwords)
      (2L, "word word word word word word word word word word word word"), // fails unique ratio + stopwords
      (3L, "hi")) // fails min words
      .toDF("doc_id", "text")
    val out = texts.select(col("doc_id") +:
        TextStats.gopherRules(col("text"), minWords = 10, maxWords = 100,
          minMeanWordLen = 1.0, maxMeanWordLen = 10.0, minUniqueRatio = 0.5,
          minStopwordRatio = 0.05, maxPunctRatio = 0.2).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    assert(out(1L) == ((1, 1, 1, 1, 1, 1)))
    assert(out(2L) == ((1, 1, 0, 0, 1, 0))) // 12/12 repeats: unique 1/12, no stopwords
    assert(out(3L) == ((0, 1, 1, 0, 1, 0))) // 1 word < 10
  }

  test("pqEncode/pqTopK match a naive driver-side product quantizer") {
    // deterministic vectors, dim 8, m=2 subspaces, k=4 centroids
    val dim = 8; val m = 2; val k = 4; val sub = dim / m
    val vecs = (0L until 40L).map { id =>
      (id, (0 until dim).map(j => (((id * 37 + j * 11) % 23).toFloat - 11f) / 7f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", m, k)
    // codebook contract: subspace s centroid j = vector j's s-th slice
    for (s <- 0 until m; j <- 0 until k)
      assert(cb(s)(j) == vecs(j)._2.slice(s * sub, (s + 1) * sub))
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    def naiveCodes(v: Seq[Float]): Seq[Int] =
      (0 until m).map { s =>
        val slc = v.slice(s * sub, (s + 1) * sub)
        cb(s).zipWithIndex.minBy { case (c, j) => (l2(slc, c), j) }._2
      }
    val got = Similarity.pqEncode(df, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    for ((id, v) <- vecs) assert(got(id) == naiveCodes(v), s"vec $id")
    // seed vectors must encode to their own index in every subspace
    for (j <- 0 until k) assert(got(j.toLong) == Seq.fill(m)(j))
    // ADC: naive table distance, round-4, rank by (dist, id)
    val queries = vecs.take(6)
    val naiveTop = queries.map { case (qid, qv) =>
      val scored = vecs.filter(_._1 != qid).map { case (nid, nv) =>
        val codes = naiveCodes(nv)
        val dist = (0 until m).map(s =>
          l2(qv.slice(s * sub, (s + 1) * sub), cb(s)(codes(s)))).sum
        (nid, math.rint(dist * 1e4) / 1e4)
      }.sortBy { case (nid, dd) => (dd, nid) }.take(3)
      qid -> scored
    }.toMap
    val adc = Similarity.pqTopK(df, queries.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, codebooks = cb)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    for ((qid, exp) <- naiveTop) assert(adc(qid) == exp, s"query $qid")
  }

  test("corpusStats exact percentiles match a naive interpolated quantile") {
    val rnd = new scala.util.Random(7L)
    val corpus = (0L until 60L).map { i =>
      val grp = if (i % 3 == 0) "web" else "book"
      val nWords = rnd.nextInt(40) + 3
      (i, grp, Seq.fill(nWords)("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
    def naiveQuantile(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val rank = p * (s.size - 1)
      val lo = math.floor(rank).toInt; val hi = math.ceil(rank).toInt
      math.rint((s(lo) + (s(hi) - s(lo)) * (rank - lo)) * 1e6) / 1e6
    }
    val byGrp = corpus.collect()
      .map(r => r.getString(1) -> r.getString(2).split(" ").length.toDouble)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val got = TextStats.corpusStats(corpus, "source", "text", "n_chars")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3), r.getDouble(4)))).toMap
    for ((g, xs) <- byGrp) {
      assert(got(g)._1 == xs.size.toLong)
      assert(math.abs(got(g)._2 - naiveQuantile(xs, 0.5)) < 1e-9, s"$g median")
      assert(math.abs(got(g)._3 - naiveQuantile(xs, 0.95)) < 1e-9, s"$g p95")
    }
    // the scale path: approx percentiles land within the integer value grid
    val apx = TextStats.corpusStats(corpus, "source", "text", "n_chars", approx = true)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    for ((g, xs) <- byGrp)
      assert(math.abs(apx(g) - naiveQuantile(xs, 0.5)) <= 2.0, s"$g approx median")
  }

  test("tfIdfTopTerms matches a naive driver-side tf-idf") {
    val corpus = Seq(
      (1L, "spark shuffle spark join"),
      (2L, "spark catalyst optimizer"),
      (3L, "parquet columnar files"))
      .toDF("doc_id", "text")
    val n = 3.0
    val local = corpus.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val dfCount = local.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    val expected = local.flatMap { case (id, words) =>
      words.groupBy(identity).map { case (t, occ) =>
        val score = math.rint(occ.size * math.log(n / dfCount(t)) * 1e6) / 1e6
        (id, t) -> ((occ.size.toLong, dfCount(t).toLong, score))
      }
    }
    val got = TextStats.tfIdfTopTerms(corpus, "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expected)
    // ranking: doc 1's top term is the tf=2 corpus-rare 'shuffle'... spark has df=2
    val top1 = TextStats.tfIdfTopTerms(corpus, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(5))).toMap
    assert(top1(1L)._2 == 1L)
    assert(top1(3L)._1 == "columnar") // all df=1 ties at tf=1 -> lexicographic
  }

  test("lmPerplexity matches a naive driver-side hashed-bigram LM") {
    import spark.implicits._
    import graft.functions.{Mix61, RollingHash}
    val docs = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the dog sat on the log", true),
      (3L, "cat dog mat log the cat sat", false),
      (4L, "completely novel words here", false),
      (5L, "one", false)) // < 2 words -> no bigram -> absent
    val buckets = 32
    val seed = 5L
    val got = TextStats.lmPerplexity(docs.toDF("doc_id", "text", "is_ref"),
        "doc_id", "text", col("is_ref"), buckets, seed)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // naive oracle on the driver, same hashing via the SCALAR kernels
    def b(w: String): Long =
      math.floorMod(Mix61.mix(RollingHash.hash(w), seed), buckets.toLong)
    def bigrams(t: String): Seq[(Long, Long)] = {
      val ws = t.split("\\s+").filter(_.nonEmpty).map(b)
      ws.dropRight(1).zip(ws.drop(1)).toSeq
    }
    val refBi = docs.filter(_._3).flatMap(d => bigrams(d._2))
    val cp = refBi.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cc = refBi.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val want = docs.filter(d => bigrams(d._2).nonEmpty).map { d =>
      val bs = bigrams(d._2)
      val microNats = bs.map { p =>
        math.round(-math.log((cp.getOrElse(p, 0L) + 1).toDouble /
          (cc.getOrElse(p._1, 0L) + buckets)) * 1e6)
      }.sum
      d._1 -> microNats.toDouble / 1e6 / bs.size
    }.toMap
    assert(got == want)
    assert(!got.contains(5L))
    // reference-like docs score lower than out-of-domain text
    assert(got(1L) < got(4L) && got(2L) < got(4L))
  }
}
