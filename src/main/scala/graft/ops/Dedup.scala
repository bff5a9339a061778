package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for training-data curation, as declarative DataFrame
  * plans: exact ([[exact]], [[exactByDigest]]), n-gram Jaccard
  * ([[ngramJaccard]], [[ngramJaccardPrefix]]), decontamination
  * ([[containment]], [[containmentBloom]]), MinHash LSH ([[minhashLsh]]
  * over [[minhashSignatures]]), SimHash ([[simhash]], [[simhashPairs]]),
  * clustering ([[connectedComponents]], [[dropNearDuplicates]]) and line /
  * span dedup ([[lineDedup]], [[duplicatedSpans]], [[maskDuplicatedSpans]]).
  *
  * The pair miners share one candidate → verify → rank core: candidates
  * from [[Candidates.sharingKey]] (pairs sharing a shingle) or
  * [[Candidates.banded]] (banded LSH, also behind
  * [[Similarity.cosineNearDup]]), Jaccard scores from `thresholdJaccard`,
  * containment scores from `containmentOver`. Every self-join goes through
  * an inverted index (shingle or bucket), never a cross join, and
  * `id1 < id2` halves the pair space.
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical content value.
    * The grouping key is the RAW content column — correct, and the right
    * shape ONLY when the content must appear in the output (q13): the full
    * corpus text rides the exchange. When downstream needs just the
    * representative ids, use [[exactByDigest]], which shuffles 16-byte
    * digests instead.
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .select(col(idCol), col(contentCol), col("n_dups"))

  /** Exact dedup keyed on a 128-bit content digest — the 100 TB shape of
    * [[exact]]: the aggregate shuffles `(digest_hi, digest_lo, id)` rows
    * (two xxhash64 lanes, the second salted), never the content. ~n²/2¹²⁹
    * colliding pairs under a random-oracle idealization; the lanes are runs
    * of the SAME non-cryptographic hash, so for adversarial input set
    * `verifyCollisions = true`: one extra aggregate over the content
    * asserting `distinct(content)` equals the digest-group count (it costs
    * the text shuffle, so it is for audits). A collision can only MERGE two
    * documents. Returns one `(id, n_dups)` row per distinct content, id = min.
    */
  def exactByDigest(
      df: DataFrame,
      contentCol: String,
      idCol: String,
      verifyCollisions: Boolean = false): DataFrame = {
    val digested = df.select(
      xxhash64(col(contentCol)).as("__d1"),
      xxhash64(lit(0x9E3779B97F4A7C15L), col(contentCol)).as("__d2"),
      col(idCol))
    val groups = digested
      .groupBy(col("__d1"), col("__d2"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .select(col(idCol), col("n_dups"))
    if (verifyCollisions) {
      val distinctContents = df.select(col(contentCol)).distinct().count()
      val digestGroups = digested.select(col("__d1"), col("__d2")).distinct().count()
      require(distinctContents == digestGroups,
        s"exactByDigest 128-bit collision detected: $distinctContents distinct " +
          s"contents vs $digestGroups digest groups — fall back to exact()")
    }
    groups
  }

  /** Word shingles as 61-bit hashes: the distinct n-grams of a doc's
    * `\s+`-split words (empty tokens dropped), each the portable
    * [[graft.functions.RollingHash]] of the space-joined n-gram, all from ONE
    * codegen'd [[graft.functions.SpanHashes]] scan — downstream shuffles
    * move 8-byte longs, not text. Hash collisions (~d²/2⁶² pairs for d
    * distinct shingles) can undercount an intersection by one. The hash is
    * plain modular arithmetic, so DuckDB oracles replay it (`rh61` in
    * [[graft.functions.Mix61.oracleMacros]]; words via
    * `list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')`).
    */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val words = filter(split(col(textCol), "\\s+"), w => length(w) > 0)
    df.select(col(idCol), words.as("__w"))
      .where(size(col("__w")) >= n)
      .select(col(idCol),
        explode(graft.functions.SpanHashes.span_hashes(col("__w"), n)).as("shingle"))
      .distinct()
  }

  /** The one Jaccard verify tail: `round(ix / (n1 + n2 - ix), 6)` from the
    * pair rows' intersection size `__ix` and set sizes `n1`, `n2`,
    * thresholded on the rounded score.
    */
  private def thresholdJaccard(
      pairs: DataFrame, n1: Column, n2: Column, threshold: Double): DataFrame =
    pairs
      .withColumn("jaccard", round(col("__ix").cast("double") / (n1 + n2 - col("__ix")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** Full inverted-index intersection counts (all pairs sharing a shingle in
    * `index`, counted over `index`): Σ over shingles of c² rows, grouped.
    */
  private def indexIntersections(index: DataFrame, idCol: String): DataFrame =
    index.select(col(idCol).as("id1"), col("shingle"))
      .join(index.select(col(idCol).as("id2"), col("shingle")), Seq("shingle"))
      .where(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("__ix"))

  /** Exact Jaccard of candidate pairs: each candidate doc's shingle hashes
    * roll up to one sorted `array<long>` row, the candidates join it twice
    * and the intersection is one codegen'd `array_intersect` per pair —
    * O(|cand| · avg set size), never the Σ df² of a full index join.
    */
  private def verifyJaccard(
      cand: DataFrame, // (id1, id2)
      sh: DataFrame, // (idCol, shingle: long)
      idCol: String,
      threshold: Double): DataFrame = {
    // only documents that appear in a candidate pair need a docset: the
    // semi-join bounds the collect_list aggregate by the candidate set
    // (<< corpus on real data) instead of rolling up every document
    val candIds = cand.select(col("id1").as(idCol))
      .unionByName(cand.select(col("id2").as(idCol))).distinct()
    val docsets = sh.join(candIds, Seq(idCol), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("shingle"))).as("__set"))
    thresholdJaccard(cand
      .join(docsets.select(col(idCol).as("id1"), col("__set").as("__s1")), Seq("id1"))
      .join(docsets.select(col(idCol).as("id2"), col("__set").as("__s2")), Seq("id2"))
      .withColumn("__ix", size(array_intersect(col("__s1"), col("__s2")))),
      size(col("__s1")), size(col("__s2")), threshold)
  }

  /** Exact n-gram Jaccard pairs with similarity >= threshold, by an
    * inverted-index join on the shingle (Σ c² rows over shingles, not
    * |docs|²).
    *
    * `maxDf` guards against boilerplate: a shingle in c docs adds c² join
    * rows. Shingles in more than `maxDf` docs are left out of CANDIDATE
    * generation only; candidates are verified over ALL shingles, so scores
    * stay exact, and only pairs sharing nothing but over-cap shingles are
    * lost. When no shingle exceeds the cap (one aggregate) the single-phase
    * plan runs.
    */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDf: Option[Long] = None): DataFrame = {
    // localCheckpoint (eager), not cache(): the shingle index feeds both
    // candidate generation and verification, and its blocks are released
    // when the frame is GC'd instead of pinning storage for the session
    val sh = wordShingles(df, idCol, textCol, n).localCheckpoint()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    // document frequency is bounded by the doc count, so when the corpus is
    // smaller than the cap the probe is decided by a metadata-cheap count()
    // and the dfreq aggregation never runs
    val capPossible = maxDf.exists(cap => df.count() > cap)
    val dfreq =
      if (capPossible) Some(sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df")))
      else None
    val capExceeded = (maxDf, dfreq) match {
      case (Some(cap), Some(freq)) =>
        val row = freq.agg(max(col("__df"))).head()
        !row.isNullAt(0) && row.getLong(0) > cap
      case _ => false
    }
    if (!capExceeded) thresholdJaccard(indexIntersections(sh, idCol)
      .join(sizes.select(col(idCol).as("id1"), col("__n").as("__n1")), Seq("id1"))
      .join(sizes.select(col(idCol).as("id2"), col("__n").as("__n2")), Seq("id2")),
      col("__n1"), col("__n2"), threshold)
    else {
      val rare = sh.join(dfreq.get.where(col("__df") <= maxDf.get), "shingle")
        .select(col(idCol), col("shingle"))
      verifyJaccard(Candidates.sharingKey(rare, idCol, Seq("shingle")), sh, idCol, threshold)
    }
  }

  /** Prefix-filtered exact n-gram Jaccard (PPJoin-style): same output as
    * [[ngramJaccard]], far fewer candidates at moderate-to-high thresholds.
    * Shingles are ordered globally (document frequency, then hash) and each
    * doc indexes only its first `|s| - ceil(t*|s|) + 1`: J(A,B) >= t needs
    * |A∩B| >= ceil(t*max(|A|,|B|)), so such pairs share a prefix element —
    * the prefix join is LOSSLESS and the exact verify removes false
    * positives.
    */
  def ngramJaccardPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint, not cache() — see ngramJaccard's note
    val sh = wordShingles(df, idCol, textCol, n).localCheckpoint()
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    // rank shingles per doc by (df asc, hash asc) — the canonical global
    // order that minimizes candidates — and take the doc's set size from
    // the SAME window (count over the partition): no separate sizes join
    val byDoc = Window.partitionBy(col(idCol))
    val pref = sh.join(dfreq, "shingle")
      .withColumn("__rn", row_number().over(
        byDoc.orderBy(col("__df").asc, col("shingle").asc)))
      .withColumn("__n", count(lit(1)).over(byDoc))
      .where(col("__rn") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col(idCol), col("shingle"), col("__n"))
    // Candidate join on prefixes only, with the PPJoin LENGTH filter:
    // J(A,B) >= t ⇒ |A∩B| >= t·max(|A|,|B|) and |A∩B| <= min(|A|,|B|),
    // so min >= t·max — size-incompatible pairs are pruned in the join.
    val cand = Candidates.sharingKey(pref, idCol, Seq("shingle"),
      least(col("x.__n"), col("y.__n")) >= lit(threshold) * greatest(col("x.__n"), col("y.__n")))
    verifyJaccard(cand, sh, idCol, threshold)
  }

  /** Benchmark decontamination: (corpus doc, benchmark doc) pairs whose
    * n-gram CONTAINMENT `|S(bench) ∩ S(doc)| / |S(bench)|` meets the
    * threshold — containment, not Jaccard, so a short eval question inside
    * a long document still trips it. The benchmark side is small, so the
    * inverted-index join broadcasts it and the corpus never shuffles.
    */
  def containment(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame =
    containmentOver(corpus, benchmark, idCol, textCol, n, threshold)((corpusSh, _) => corpusSh)

  /** The scoring tail of [[containment]] and [[containmentBloom]]:
    * `prefilter(corpusShingles, benchShingles)` narrows the corpus side,
    * then the exact join counts each (doc, bench) intersection.
    */
  private def containmentOver(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double)(prefilter: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val corpusSh = wordShingles(corpus, idCol, textCol, n)
      .select(col(idCol).as("doc_id_"), col("shingle"))
    val benchSh = wordShingles(benchmark, idCol, textCol, n)
      .select(col(idCol).as("bench_id"), col("shingle"))
    val benchSizes = benchSh.groupBy(col("bench_id")).agg(count(lit(1)).as("__bn"))
    prefilter(corpusSh, benchSh).join(benchSh, "shingle")
      .groupBy(col("doc_id_"), col("bench_id"))
      .agg(count(lit(1)).as("__ix"))
      .join(benchSizes, "bench_id")
      .withColumn("containment", round(col("__ix").cast("double") / col("__bn"), 6))
      .where(col("containment") >= threshold)
      .select(col("doc_id_").as("doc_id"), col("bench_id"), col("containment"))
  }

  /** [[containment]] over Bloom-prefiltered corpus shingles — the shape
    * for a benchmark shingle set too large to broadcast. The benchmark
    * shingles fold into an `mBits` bitmap
    * ([[graft.functions.BloomFilter61.build]]) that the corpus probes in its
    * scan stage, so only survivors (≈ true hits + fpr·corpus) reach the
    * exact join, which drops the false positives: the OUTPUT IS EXACTLY
    * [[containment]]'s.
    */
  def containmentBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      mBits: Long = 1L << 22,
      k: Int = 4): DataFrame =
    containmentOver(corpus, benchmark, idCol, textCol, n, threshold) { (corpusSh, benchSh) =>
      val bitmap = graft.functions.BloomFilter61.build(
        benchSh.select(col("shingle")).distinct(), "shingle", mBits, k)
      corpusSh.where(graft.functions.BloomFilter61.might_contain_61(
        lit(bitmap), col("shingle"), k))
    }

  /** MinHash signatures: k independent permutations simulated as
    * min(mix61(shingle, seed_i)) per doc — [[graft.functions.Mix61]] is
    * engine-portable, so the DuckDB gate replays the exact signatures.
    * One groupBy, k codegen'd aggs.
    */
  def minhashSignatures(
      shingles: DataFrame,
      idCol: String,
      numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(graft.functions.Mix61.mix61(col("shingle"), lit(i.toLong))).as(s"mh_$i"))
    shingles.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding: split k signatures into bands of r rows; docs
    * sharing any band signature become candidates; candidates are verified
    * with exact Jaccard on their shingle sets. False-positive-free (exact
    * verify); false negatives bounded by the (bands, rows) S-curve.
    */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // localCheckpoint, not cache() — see ngramJaccard's note
    val sh = wordShingles(df, idCol, textCol, shingleN).localCheckpoint()
    val sig = minhashSignatures(sh, idCol, numHashes)
    // band signature = order-sensitive mix61 fold of its r minhash values
    // (h := mix61(h + v, 17)) — portable, mirrored in the DuckDB oracle
    def bandSig(b: Int): Column =
      (b * rows until (b + 1) * rows).foldLeft(lit(0L): Column) { (h, i) =>
        graft.functions.Mix61.mix61(h + col(s"mh_$i"), lit(17L))
      }
    val cand = Candidates.banded(sig, idCol, (0 until bands).map(bandSig),
      "bs", ("band", "sig"), ("band", "sig"))
    // exact verification of candidates only, via hashed docset arrays
    verifyJaccard(cand, sh, idCol, threshold)
  }

  /** SimHash bit width: 60 bits (4 LSH blocks × 15 bits) from one portable
    * mix61 draw per shingle — every bit of the fingerprint is covered by a
    * block, preserving the pigeonhole recall guarantee, and the fingerprint
    * stays strictly positive in a signed 64-bit value on every engine (a
    * 64-bit fingerprint's top bit would need wrap-around shifts that DuckDB
    * rejects).
    */
  final val SimhashBits = 60

  /** Counters packed per aggregate long in [[simhash]]: 3 lanes of 20 bits.
    * Lane sums stay carry-free for docs under 2^20 (≈1M) distinct shingles —
    * far beyond any real document; the packing cuts the aggregation from 60
    * buffers (round 2, flagged as q23's cost) to 20.
    */
  private val SimhashLanes = 3
  private val SimhashLaneBits = 20

  /** 60-bit SimHash over word shingles: bit b of the fingerprint is the sign
    * of sum over shingles of (bit b of mix61(shingle, 211) ? +1 : -1) —
    * equivalently, ones_b counted and compared against n/2
    * (2·ones_b > n ⟺ the ±1 sum is positive). ones-counters are packed
    * three-per-long ([[SimhashLanes]]), all codegen'd, and exactly
    * reproducible in the DuckDB gate via [[graft.functions.Mix61]] (the
    * oracle keeps the unpacked ±1 formulation — same fingerprint).
    */
  def simhash(shingles: DataFrame, idCol: String): DataFrame = {
    val h = graft.functions.Mix61.mix61(col("shingle"), lit(211L))
    val packedSums = (0 until SimhashBits by SimhashLanes).map { g =>
      val packed = (0 until SimhashLanes).filter(k => g + k < SimhashBits).map { k =>
        shiftleft(shiftright(h, g + k).bitwiseAND(1), k * SimhashLaneBits)
      }.reduce[Column](_ + _)
      sum(packed).as(s"__p$g")
    }
    val agg = shingles.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), packedSums: _*)
    val fp = (0 until SimhashBits).map { b =>
      val g = (b / SimhashLanes) * SimhashLanes
      val k = b % SimhashLanes
      val ones = shiftright(col(s"__p$g"), k * SimhashLaneBits)
        .bitwiseAND((1L << SimhashLaneBits) - 1)
      when(ones * 2 > col("__n"), shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce[Column](_.bitwiseOR(_))
    agg.select(col(idCol), fp.as("simhash"))
  }

  /** Hash-min rounds [[connectedComponents]] tries before it escalates. */
  private val HashMinHead = 4

  /** Round budget of [[starComponents]] (a diameter-64 chain takes at most
    * 8, OpsSpec); past it the run fails loudly.
    */
  private val StarMaxRounds = 25

  /** Connected components over a near-duplicate pair list: every node's
    * `component` is the minimum id reachable through the pairs, so one
    * representative per duplicate CLUSTER survives (pairwise removal alone
    * over-deletes on chains a~b~c).
    *
    * Up to `driverMaxEdges` distinct undirected edges (default 2M, a few
    * hundred MB of boxed rows) the edge list is collected and solved by
    * union-find on the driver. Above it the run is a STAGED ESCALATION
    * (BENCH/DEDUP.md "Long-chain CC"): hash-min label propagation
    * ([[hashMinComponents]]) is ~2× cheaper per round but needs DIAMETER
    * rounds, and near-dup graphs are usually shallow cliques, so it gets
    * [[HashMinHead]] rounds; a graph still unconverged restarts on
    * [[starComponents]], whose round count holds at any diameter. Both
    * loops checkpoint each round to keep plans flat.
    *
    * @param pairs (id1, id2) rows; direction irrelevant.
    * @return one row per node appearing in `pairs`: (id, component).
    */
  def connectedComponents(pairs: DataFrame, driverMaxEdges: Long = 2000000L): DataFrame = {
    // canonicalize direction first so the gate counts (and the driver path
    // collects) each undirected edge exactly ONCE — the documented budget
    val undirected = pairs.select(
        least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b"))
      .distinct().localCheckpoint()
    if (undirected.count() <= driverMaxEdges) driverComponents(undirected)
    else hashMinAttempt(undirected, HashMinHead,
        new java.util.concurrent.atomic.AtomicInteger)
      .getOrElse(starComponents(undirected))
  }

  /** Distributed large-star/small-star CC (Kiveris et al., SoCC 2014), the
    * above-the-gate path of [[connectedComponents]]. Per round, large-star
    * links each node's STRICTLY LARGER neighbors to the minimum of its
    * closed neighborhood, and small-star links its ≤ neighbors and itself
    * to the minimum of its small neighborhood (one groupBy-min + one join
    * each). Convergence takes O(log² n) rounds at ANY diameter (6 vs 64+
    * joins on a chain, BENCH/DEDUP.md "Long-chain CC"); the fixpoint is an
    * unchanged edge set (one count + one left_anti probe). On the converged
    * stars every edge is (node → component min).
    */
  private[graft] def starComponents(undirected: DataFrame, maxIter: Int = StarMaxRounds,
      rounds: java.util.concurrent.atomic.AtomicInteger =
        new java.util.concurrent.atomic.AtomicInteger): DataFrame = {
    // self-pairs (id1 == id2) carry no connectivity; re-added as self-labels.
    // Orient big→small (both phases emit that orientation, so a fixpoint
    // input matches its own output on the first comparison).
    var e = undirected.where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val bidir = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val lsMin = bidir.groupBy(col("a"))
        .agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val ls = bidir.join(lsMin, Seq("a")).where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b")).distinct()
      val ssMin = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
      val ss = ls.join(ssMin, Seq("a"))
        .where(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(ssMin.select(col("a"), col("m").as("b")))
        .distinct().localCheckpoint()
      converged = ss.count() == e.count() &&
        ss.join(e, Seq("a", "b"), "left_anti").isEmpty
      e = ss
      i += 1
      rounds.set(i)
    }
    require(converged, s"starComponents did not converge in $maxIter rounds")
    val labels = e.select(col("a").as("id"), col("b").as("comp"))
      .union(e.select(col("b").as("id"), col("b").as("comp")))
      .distinct()
    // nodes whose every pair was a self-pair never entered the contraction
    val allNodes = undirected.select(col("a").as("id"))
      .union(undirected.select(col("b").as("id"))).distinct()
    allNodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Distributed hash-min label propagation (min label over neighbors per
    * round; converges in graph-DIAMETER rounds) — the cheap HEAD stage of
    * [[connectedComponents]]'s escalation, and the comparison benchmark
    * baseline. Throws when `maxIter` is not enough; [[hashMinAttempt]] is
    * the non-throwing variant the escalation routes through.
    */
  private[graft] def hashMinComponents(undirected: DataFrame, maxIter: Int = 25,
      rounds: java.util.concurrent.atomic.AtomicInteger =
        new java.util.concurrent.atomic.AtomicInteger): DataFrame =
    hashMinAttempt(undirected, maxIter, rounds).getOrElse(
      throw new IllegalStateException(
        s"hashMinComponents did not converge in $maxIter iterations"))

  /** [[hashMinComponents]] that returns None instead of throwing when the
    * round budget runs out (labels would be incomplete — never returned).
    */
  private[graft] def hashMinAttempt(undirected: DataFrame, maxIter: Int,
      rounds: java.util.concurrent.atomic.AtomicInteger): Option[DataFrame] = {
    val edges = undirected
      .union(undirected.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("b"), col("comp").as("nc")), Seq("b"))
        .groupBy(col("a")).agg(min(col("nc")).as("nmin"))
      val next = labels
        .join(neighborMin.select(col("a").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"), col("comp").as("__prev"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
        .localCheckpoint()
      changed = next.where(col("__prev") =!= col("comp")).count()
      labels = next.select(col("id"), col("comp"))
      i += 1
      rounds.set(i)
    }
    if (changed == 0) Some(labels) else None
  }

  /** Driver-side union-find over a small collected edge list (the
    * below-the-gate branch of [[connectedComponents]]): path-halving find +
    * union by rank, then component = min id per root under SPARK's ordering
    * for the id type — strings compare by UTF-8 bytes and binary ids by
    * unsigned bytes, exactly like the distributed path's `least`, so both
    * paths elect the same representative for any input (incl. non-BMP
    * strings). Unsupported id types fail fast with a clear message. The
    * result is a local relation, so downstream joins against it broadcast.
    */
  private def driverComponents(edges: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val spark = edges.sparkSession
    val idType = edges.schema("a").dataType
    idType match {
      case _: StringType | _: NumericType | _: BinaryType | _: DateType |
          _: TimestampType | _: TimestampNTZType | _: BooleanType => ()
      case other => throw new IllegalArgumentException(
        s"connectedComponents: id type $other is not supported for " +
          "representative election — use string, binary, numeric, date, " +
          "timestamp, or boolean ids")
    }
    val rows = edges.collect()
    val index = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    // Array[Byte] hashes/compares by REFERENCE identity — normalize binary
    // ids to a value-equal key so the same id collected from different rows
    // maps to ONE union-find node (the distributed path's `least` compares
    // binary by value; the driver path must agree).
    def key(v: Any): Any = v match {
      case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
      case x => x
    }
    def idx(v: Any): Int =
      index.getOrElseUpdate(key(v), { ids += v; ids.size - 1 })
    rows.foreach { r => idx(r.get(0)); idx(r.get(1)) }
    val n = ids.size
    val parent = Array.tabulate(n)(identity)
    val rank = new Array[Int](n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val (ra, rb) = (find(idx(r.get(0))), find(idx(r.get(1))))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(rb) < rank(ra)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) => // UTF-8 byte order = Spark's UTF8String
        java.util.Arrays.compareUnsigned(
          a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0
      case (a: Array[Byte], b: Array[Byte]) => // unsigned = Spark's BinaryType
        java.util.Arrays.compareUnsigned(a, b) < 0
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val minOfRoot = new Array[Any](n)
    (0 until n).foreach { i =>
      val r = find(i)
      if (minOfRoot(r) == null || lt(ids(i), minOfRoot(r))) minOfRoot(r) = ids(i)
    }
    val out: java.util.List[org.apache.spark.sql.Row] =
      (0 until n).map(i => org.apache.spark.sql.Row(ids(i), minOfRoot(find(i)))).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("comp", idType)))
    spark.createDataFrame(out, schema)
  }

  /** Corpus after near-duplicate removal: for each duplicate cluster
    * (connected component of `pairs`), keep only the representative
    * (minimum id); rows never appearing in a pair pass through.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Line-level exact dedup with reassembly (the CCNet / RefinedWeb
    * "remove duplicated lines across the corpus" pass): every line keeps
    * exactly one copy corpus-wide — the occurrence with the smallest
    * (id, position) — and each document is reassembled from its surviving
    * lines in original order. Duplicate lines WITHIN a document collapse to
    * their first occurrence too.
    *
    * Shape: posexplode to (id, pos, line) rows, key by the portable
    * [[graft.functions.RollingHash]] of the line, keep-first with ONE
    * row_number window over the line hash, regroup by document. Two
    * shuffles total, both on narrow single-line rows — the full document
    * text never rides an exchange, and the window's per-key group is the
    * duplication count of one line (bounded by construction for real
    * corpora; a pathological boilerplate line is one hot key — the same
    * salting calculus as the as-of join applies, but keep-first needs the
    * global minimum anyway, which the window's partial sort delivers
    * without materializing the group).
    *
    * Documents whose every line was claimed elsewhere surface with
    * `n_kept = 0` and empty text (left join back onto the input ids).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String, sep: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .select(col(idCol), col("pos"), col("col").as("__line"),
        graft.functions.RollingHash.rolling_hash(col("col")).as("__h"))
    // identity = (hash, full line): the hash alone is 61-bit and WOULD
    // collide near ~2^31 distinct lines, silently deleting an innocent
    // line; the line text already rides this exchange row, so widening the
    // partition key costs nothing extra
    val w = Window.partitionBy(col("__h"), col("__line"))
      .orderBy(col(idCol).asc, col("pos").asc)
    val kept = lines
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(sep, transform(
        array_sort(collect_list(struct(col("pos"), col("__line")))),
        s => s.getField("__line"))).as("text_dedup"))
    df.select(col(idCol),
        (size(split(col(textCol), java.util.regex.Pattern.quote(sep)))).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Exact duplicated-span detection over pre-tokenized documents — the
    * fixed-length core of suffix-array "exact substring" dedup (Lee et al.,
    * *Deduplicating Training Data Makes Language Models Better*, ACL 2022,
    * arXiv:2107.06499): every n-token span whose content occurs at least
    * `minCount` times across the corpus (within-document repeats included —
    * repeated boilerplate inside one page is still duplicated text) is
    * reported with its document and 0-based start position.
    *
    * Span identity is the portable [[graft.functions.RollingHash]] over the
    * space-joined decimal token rendering, computed for ALL spans of a row
    * in one O(doc chars) prefix scan by the native codegen
    * [[graft.functions.SpanHashes]] kernel — the joined string never leaves
    * the scan stage, so every shuffle moves 8-byte longs. Plan shape:
    * bounded explode to (id, pos, h) rows (exactly ×(len−n+1) growth, no
    * token arrays moved), a map-side-combinable count per hash, a filter to
    * the duplicated-hash set, and one equi-join back onto occurrences. At
    * corpus scale the duplicated set is the join's small side (AQE
    * broadcasts it when it fits); the occurrence side is never self-joined.
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      n: Int,
      minCount: Long = 2L): DataFrame = {
    require(n >= 1, "span length n must be >= 1")
    require(minCount >= 2, "minCount < 2 would report every span")
    val spans = df
      .where(size(col(tokensCol)) >= n)
      .select(col(idCol),
        posexplode(graft.functions.SpanHashes.span_hashes(col(tokensCol), n)))
      .select(col(idCol), col("pos"), col("col").as("span_h"))
    val dup = spans.groupBy(col("span_h"))
      .agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= minCount)
    spans.join(dup, Seq("span_h"))
      .select(col(idCol), col("pos"), col("span_h"), col("n_occ"))
  }

  /** Apply step for [[duplicatedSpans]]: every token covered by at least one
    * duplicated n-span occurrence is replaced with `maskToken` (the
    * cut-don't-drop policy — document structure survives, duplicated bytes
    * don't train). Covered positions are a bounded ×n explode of the
    * (already small) duplicated-occurrence set, dedup'd and collected to one
    * sorted position array per document, then applied by the native
    * [[graft.functions.MaskCovered]] merge-scan kernel —
    * O(n_tok + covered) per row inside whole-stage codegen, so dense
    * coverage on long documents stays linear.
    */
  def maskDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      n: Int,
      minCount: Long = 2L,
      maskToken: Int = -1): DataFrame = {
    val covered = duplicatedSpans(df, idCol, tokensCol, n, minCount)
      .select(col(idCol), explode(sequence(col("pos") + 1, col("pos") + n)).as("__j"))
      .distinct()
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__j"))).as("__cov"))
    df.join(covered, Seq(idCol), "left")
      .withColumn("__cov", coalesce(col("__cov"), array().cast("array<int>")))
      .select(
        col(idCol),
        size(col(tokensCol)).cast("long").as("n_tok"),
        size(col("__cov")).cast("long").as("n_masked"),
        graft.functions.MaskCovered.mask_covered(
          col(tokensCol), col("__cov"), maskToken).as("tokens_masked"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming, found via
    * 4×15-bit block LSH (two fingerprints within hamming d<=3 share at least
    * one of 4 blocks exactly — pigeonhole over all 60 bits), then exact
    * popcount verify.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, shingleN: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "block LSH with 4 blocks guarantees recall only for hamming <= 3")
    val fps = simhash(wordShingles(df, idCol, textCol, shingleN), idCol)
    // the fingerprints ride the candidate join (8 bytes each), so the
    // popcount verify needs no re-fetch join
    val cand = Candidates.banded(fps, idCol,
      (0 until 4).map(b => shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFFL)),
      "bk", ("blk", "key"), ("blk", "key"), carry = Seq("simhash" -> "__f"))
    cand
      .withColumn("hamming", bit_count(col("__f1").bitwiseXOR(col("__f2"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }
}
