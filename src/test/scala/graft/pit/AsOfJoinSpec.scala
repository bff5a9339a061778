package graft.pit

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Point-in-time correctness re-expressed from the reference's own test
  * corpus (Cimpress-MCP/feast sdk/python/tests/test_historical_retrieval.py):
  * an independent O(n²) driver-side oracle (`find_asof_record`, :131-137 —
  * linear scan for the max-ts feature row within [entity_ts - ttl,
  * entity_ts]), max_age expiry, duplicate-timestamp tie-break on
  * created_timestamp (driver_test_data.py:139-144), null-fill for missing
  * features, inclusive TTL bounds, plus engine-level invariants the
  * reference never checks: windowed ≡ rangeJoin ≡ salted on randomized
  * inputs, and zero temporal leakage (no feature row from the future).
  */
case class Ent(eid: Long, key: String, ets: Timestamp)
case class Feat(key: String, fts: Timestamp, created: Timestamp, v: Double)

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def t(minutes: Long): Timestamp =
    new Timestamp(1618185600000L + minutes * 60000L) // 2021-04-12T00:00Z base

  /** The naive oracle: latest fts <= ets within ttl (both bounds inclusive),
    * ties on fts broken by max created. Mirrors find_asof_record exactly.
    */
  private def naiveAsof(
      ents: Seq[Ent], feats: Seq[Feat], ttlSec: Option[Long]): Map[Long, Option[Double]] =
    ents.map { e =>
      val lo = ttlSec.map(s => e.ets.getTime - s * 1000L).getOrElse(Long.MinValue)
      val cands = feats.filter(f =>
        f.key == e.key && f.fts.getTime <= e.ets.getTime && f.fts.getTime >= lo)
      val best =
        if (cands.isEmpty) None
        else Some(cands.maxBy(f => (f.fts.getTime, f.created.getTime)))
      e.eid -> best.map(_.v)
    }.toMap

  private def spec(ttl: Option[Long]) =
    AsOfSpec(Seq("key"), "ets", "fts", Some("created"), ttl, Seq("v"))

  private def runWindowed(ents: Seq[Ent], feats: Seq[Feat], ttl: Option[Long],
      salt: Int = 1): Map[Long, Option[Double]] =
    collectResult(AsOfJoin.windowed(ents.toDF(), feats.toDF(), spec(ttl), saltBuckets = salt))

  private def runRange(ents: Seq[Ent], feats: Seq[Feat], ttl: Option[Long]): Map[Long, Option[Double]] =
    collectResult(AsOfJoin.rangeJoin(ents.toDF(), feats.toDF(), spec(ttl), rowId = "eid"))

  private def collectResult(df: DataFrame): Map[Long, Option[Double]] =
    df.select(col("eid"), col("v")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap

  // deterministic pseudo-random scenario generator (no reliance on cluster RNG)
  private def scenario(seed: Long, nEnt: Int, nFeat: Int, nKeys: Int): (Seq[Ent], Seq[Feat]) = {
    val rnd = new scala.util.Random(seed)
    val ents = (0 until nEnt).map(i =>
      Ent(i.toLong, s"k${rnd.nextInt(nKeys)}", t(rnd.nextInt(600).toLong)))
    // created gets a per-row unique millisecond so no two feature rows share
    // an exact (key, fts, created) — the only case where the pick is
    // legitimately arbitrary (tested separately via the tie-break tests).
    val feats = (0 until nFeat).map { i =>
      val base = rnd.nextInt(600)
      val created = new Timestamp(t(base.toLong + rnd.nextInt(5)).getTime + i)
      Feat(s"k${rnd.nextInt(nKeys)}", t(base.toLong), created, rnd.nextDouble())
    }
    (ents, feats)
  }

  test("matches the naive oracle on randomized inputs (3 seeds, with ttl)") {
    for (seed <- Seq(1L, 7L, 42L)) {
      val (ents, feats) = scenario(seed, nEnt = 80, nFeat = 120, nKeys = 7)
      val expected = naiveAsof(ents, feats, Some(3600L))
      val actual = runWindowed(ents, feats, Some(3600L))
      assert(actual.keySet == expected.keySet, s"seed=$seed row set")
      for ((eid, exp) <- expected)
        assert(allclose(actual(eid), exp), s"seed=$seed eid=$eid: ${actual(eid)} vs $exp")
    }
  }

  test("matches the naive oracle with unbounded lookback (ttl = None)") {
    val (ents, feats) = scenario(11L, nEnt = 60, nFeat = 90, nKeys = 5)
    val expected = naiveAsof(ents, feats, None)
    val actual = runWindowed(ents, feats, None)
    for ((eid, exp) <- expected) assert(allclose(actual(eid), exp), s"eid=$eid")
  }

  test("windowed ≡ rangeJoin on randomized inputs") {
    for (seed <- Seq(3L, 13L)) {
      val (ents, feats) = scenario(seed, nEnt = 70, nFeat = 100, nKeys = 6)
      assert(runWindowed(ents, feats, Some(1800L)) == runRange(ents, feats, Some(1800L)),
        s"seed=$seed")
    }
  }

  test("salted (every key hot, 8 buckets) ≡ unsalted") {
    val (ents, feats) = scenario(29L, nEnt = 90, nFeat = 130, nKeys = 4)
    assert(runWindowed(ents, feats, Some(3600L), salt = 8) ==
      runWindowed(ents, feats, Some(3600L)))
  }

  test("selective hot-key salting ≡ unsalted") {
    val (ents, feats) = scenario(31L, nEnt = 90, nFeat = 130, nKeys = 4)
    val plain = runWindowed(ents, feats, Some(3600L))
    val salted = collectResult(AsOfJoin.windowed(
      ents.toDF(), feats.toDF(), spec(Some(3600L)),
      saltBuckets = 8, hotKeys = Seq("k0", "k2")))
    assert(salted == plain)
  }

  test("a hot key probed at a SINGLE timestamp spreads across salt buckets") {
    // the common snapshot-entity-frame shape: many probes of one key, all at
    // the same ts. Round 2's salt = hash(ts, tag) put them ALL in one bucket.
    val ents = (0 until 64).map(i => Ent(i.toLong, "k0", t(100)))
    val feats = (0 until 40).map(i =>
      Feat("k0", t(i.toLong), new Timestamp(t(i.toLong).getTime + i), i.toDouble))
    val buckets = ents.toDF()
      .select(pmod(AsOfJoin.saltSource(ents.toDF(), spec(Some(3600L))), lit(8)))
      .collect().map(_.get(0)).toSet
    assert(buckets.size > 1, s"single-ts hot key collapsed into $buckets")
    // and correctness is unchanged under salting
    assert(runWindowed(ents, feats, Some(3600L), salt = 8) ==
      runWindowed(ents, feats, Some(3600L)))
  }

  test("composite-key hot tuples salt correctly (multi-column hotKeys)") {
    val rnd = new scala.util.Random(5L)
    case class E2(eid: Long, k1: String, k2: String, ets: Timestamp)
    case class F2(k1: String, k2: String, fts: Timestamp, created: Timestamp, v: Double)
    val ents = (0 until 80).map { i =>
      // ("a","x") is the hot pair; other combos are the tail
      if (i % 2 == 0) (i.toLong, "a", "x", t(rnd.nextInt(300).toLong))
      else (i.toLong, s"k${rnd.nextInt(4)}", s"j${rnd.nextInt(4)}", t(rnd.nextInt(300).toLong))
    }
    val feats = (0 until 120).map { i =>
      val (k1, k2) = if (i % 3 == 0) ("a", "x") else (s"k${rnd.nextInt(4)}", s"j${rnd.nextInt(4)}")
      val base = rnd.nextInt(300)
      (k1, k2, t(base.toLong), new Timestamp(t(base.toLong).getTime + i), rnd.nextDouble())
    }
    val entDf = ents.toDF("eid", "k1", "k2", "ets")
    val featDf = feats.toDF("k1", "k2", "fts", "created", "v")
    val sp = AsOfSpec(Seq("k1", "k2"), "ets", "fts", Some("created"), Some(3600L), Seq("v"))
    def run(salt: Int, hot: Seq[Any]) =
      AsOfJoin.windowed(entDf, featDf, sp, saltBuckets = salt, hotKeys = hot)
        .select(col("eid"), col("v")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val plain = run(1, Nil)
    assert(run(8, Seq(Seq("a", "x"))) == plain)
    // detection on the tuple finds the planted hot pair
    val hot = graft.exec.Skew.detectHotKeyTuples(
      entDf, Seq("k1", "k2"), hotShare = 0.3, sampleFraction = 1.0)
    assert(hot.contains(Seq("a", "x")), s"got $hot")
    assert(run(8, hot) == plain)
  }

  test("windowedLate (late-materialized payload fetch) ≡ windowed, incl. salted + shuffle fetch") {
    val (ents, feats) = scenario(23L, nEnt = 80, nFeat = 120, nKeys = 6)
    val featDf = feats.zipWithIndex
      .map { case (f, i) => (i.toLong, f.key, f.fts, f.created, f.v) }
      .toDF("fid", "key", "fts", "created", "v")
    val expected = runWindowed(ents, feats, Some(3600L))
    def late(salt: Int) = collectResult(
      AsOfJoin.windowedLate(ents.toDF(), featDf, spec(Some(3600L)), rowId = "fid",
        saltBuckets = salt, hotKeys = if (salt > 1) Seq("k0") else Nil))
    assert(late(1) == expected)
    assert(late(8) == expected)
  }

  test("HOT key with ARRAY payload through windowedLate: salted ≡ unsalted, buckets occupied") {
    // round-3 gap: salting was gate-proven on the direct windowed path (q20)
    // and windowedLate on scalar payloads, but no test drove a hot key's
    // WIDE (array) features through the late-materialized path
    val ents = ((0 until 60).map(i => (i.toLong, "hot", t(10 + i))) ++
      (60 until 70).map(i => (i.toLong, s"cold${i % 3}", t(10 + i))))
      .toDF("eid", "key", "ets")
    val featDf = (0 until 40).map { i =>
      val key = if (i < 30) "hot" else s"cold${i % 3}"
      (i.toLong, key, t(i), t(i), (0 to i % 5).map(j => i * 10 + j))
    }.toDF("fid", "key", "fts", "created", "toks")
    val sp = AsOfSpec(Seq("key"), "ets", "fts", Some("created"), Some(3600L), Seq("toks"))
    def run(salt: Int, hot: Seq[Any]): Map[Long, Seq[Int]] =
      AsOfJoin.windowedLate(ents, featDf, sp, rowId = "fid",
        saltBuckets = salt, hotKeys = hot)
        .select(col("eid"), col("toks")).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    val plain = run(1, Nil)
    val salted = run(8, Seq("hot"))
    assert(salted == plain)
    assert(plain.values.count(v => v != null && v.nonEmpty) > 30) // real matches
    // the hot key's entity rows really spread across > 1 salt bucket
    val occupied = ents.where(col("key") === "hot")
      .select(pmod(AsOfJoin.saltSource(ents, sp), lit(8)).as("b"))
      .distinct().count()
    assert(occupied > 1, s"hot key collapsed into $occupied bucket(s)")
  }

  test("max_age expiry: feature outside ttl yields null (not the stale value)") {
    val ents = Seq(Ent(1, "a", t(100)))
    val feats = Seq(Feat("a", t(10), t(10), 5.0)) // 90 min old
    assert(runWindowed(ents, feats, Some(3600L)) == Map(1L -> None)) // ttl 60 min
    assert(runWindowed(ents, feats, Some(7200L)) == Map(1L -> Some(5.0))) // ttl 120 min
  }

  test("ttl bounds are inclusive on both ends") {
    // feature exactly at entity ts
    assert(runWindowed(Seq(Ent(1, "a", t(100))), Seq(Feat("a", t(100), t(100), 1.0)),
      Some(60L)) == Map(1L -> Some(1.0)))
    // feature exactly at entity ts - ttl
    assert(runWindowed(Seq(Ent(2, "a", t(100))), Seq(Feat("a", t(99), t(99), 2.0)),
      Some(60L)) == Map(2L -> Some(2.0)))
    // one second beyond ttl → expired
    assert(runWindowed(Seq(Ent(3, "a", t(100))), Seq(Feat("a", t(99), t(99), 3.0)),
      Some(59L)) == Map(3L -> None))
  }

  test("zero temporal leakage: a future feature row never joins backward") {
    val ents = Seq(Ent(1, "a", t(100)))
    val feats = Seq(Feat("a", t(101), t(101), 9.0)) // 1 min in the future
    assert(runWindowed(ents, feats, Some(86400L)) == Map(1L -> None))
    assert(runRange(ents, feats, Some(86400L)) == Map(1L -> None))
  }

  test("duplicate (key, ts) tie-break: max created_timestamp wins") {
    val ents = Seq(Ent(1, "a", t(100)))
    val feats = Seq(
      Feat("a", t(90), t(90), 1.0),
      Feat("a", t(90), t(95), 2.0), // same event ts, later created → wins
      Feat("a", t(90), t(92), 3.0))
    assert(runWindowed(ents, feats, Some(3600L)) == Map(1L -> Some(2.0)))
    assert(runRange(ents, feats, Some(3600L)) == Map(1L -> Some(2.0)))
  }

  test("null join keys never match: windowed agrees with rangeJoin's === semantics") {
    // Window.partitionBy groups NULLs, so without the null-key feature
    // filter the null-keyed entity would pick up the null-keyed feature
    val ents = Seq(Ent(1, null, t(100)), Ent(2, "a", t(100)))
    val feats = Seq(Feat(null, t(90), t(90), 7.0), Feat("a", t(90), t(90), 1.0))
    val want = Map(1L -> None, 2L -> Some(1.0))
    assert(runWindowed(ents, feats, Some(3600L)) == want)
    assert(runRange(ents, feats, Some(3600L)) == want)
  }

  test("full (key, ts, created) ties resolve deterministically to max(features), both strategies") {
    // without a final feature tie-breaker in the window sort, the pick
    // would follow shuffle arrival order and could differ run to run
    val ents = Seq(Ent(1, "a", t(100)))
    val feats = Seq(
      Feat("a", t(90), t(90), 1.0),
      Feat("a", t(90), t(90), 9.0),
      Feat("a", t(90), t(90), 4.0))
    assert(runWindowed(ents, feats, Some(3600L)) == Map(1L -> Some(9.0)))
    assert(runRange(ents, feats, Some(3600L)) == Map(1L -> Some(9.0)))
  }

  test("latest event_ts beats larger created_ts of an older event") {
    val ents = Seq(Ent(1, "a", t(100)))
    val feats = Seq(
      Feat("a", t(90), t(999), 1.0), // older event, huge created
      Feat("a", t(95), t(95), 2.0)) // newer event wins regardless
    assert(runWindowed(ents, feats, Some(3600L)) == Map(1L -> Some(2.0)))
  }

  test("null-fill: entity keys with no feature history at all get nulls") {
    val ents = Seq(Ent(1, "a", t(100)), Ent(2, "nobody", t(100)))
    val feats = Seq(Feat("a", t(90), t(90), 4.0))
    assert(runWindowed(ents, feats, Some(3600L)) ==
      Map(1L -> Some(4.0), 2L -> None))
  }

  test("entity rows are preserved exactly (left-outer cardinality, payload intact)") {
    val (ents, feats) = scenario(17L, nEnt = 50, nFeat = 40, nKeys = 3)
    val out = AsOfJoin.windowed(ents.toDF(), feats.toDF(), spec(Some(3600L)))
    assert(out.count() == ents.size)
    val kept = out.select("eid", "key", "ets").as[(Long, String, Timestamp)].collect().toSet
    assert(kept == ents.map(e => (e.eid, e.key, e.ets)).toSet)
  }

  test("composite (multi-column) entity keys") {
    val ents = Seq(
      ("e1", "u1", "m1", t(100)), ("e2", "u1", "m2", t(100)), ("e3", "u2", "m1", t(100)))
      .toDF("eid", "user", "merchant", "ets")
    val feats = Seq(
      ("u1", "m1", t(90), t(90), 1.0), ("u1", "m2", t(91), t(91), 2.0),
      ("u2", "m2", t(92), t(92), 3.0))
      .toDF("user", "merchant", "fts", "created", "v")
    val s = AsOfSpec(Seq("user", "merchant"), "ets", "fts", Some("created"), Some(3600L), Seq("v"))
    val got = AsOfJoin.windowed(ents, feats, s)
      .select("eid", "v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map("e1" -> Some(1.0), "e2" -> Some(2.0), "e3" -> None))
  }

  test("multi-view composition folds independently per view (different TTLs)") {
    val ents = Seq(Ent(1, "a", t(100))).toDF()
    val viewA = Seq(Feat("a", t(40), t(40), 1.0)).toDF()
      .withColumnRenamed("v", "va")
    val viewB = Seq(Feat("a", t(95), t(95), 2.0)).toDF()
      .withColumnRenamed("v", "vb")
    val step1 = AsOfJoin.windowed(ents, viewA,
      AsOfSpec(Seq("key"), "ets", "fts", Some("created"), Some(1800L), Seq("va"))) // 30 min: expired
    val out = AsOfJoin.windowed(step1, viewB,
      AsOfSpec(Seq("key"), "ets", "fts", Some("created"), Some(1800L), Seq("vb")))
    val r = out.select("va", "vb").head()
    assert(r.isNullAt(0) && r.getDouble(1) == 2.0)
  }

  test("N-side windowed ≡ per-side rangeJoin ≡ fold of single-side calls, salted and not") {
    // three sides on one key: bigint created + ttl 10 min (it expires many
    // picks), timestamp created + no ttl, and an empty side (ttl 30 min); a
    // small ts/created grid makes full (ts, created) ties common, and null
    // keys sit on both sides
    def key(rnd: scala.util.Random) =
      if (rnd.nextInt(8) == 0) None else Some(s"k${rnd.nextInt(4)}")
    for (seed <- Seq(2L, 19L)) {
      val rnd = new scala.util.Random(seed)
      val entRows = (0 until 60).map(i => (i.toLong, key(rnd), t(30 + rnd.nextInt(90).toLong)))
      // duplicate entity rows: each must keep its own (equal) match
      val ents = (entRows ++ entRows.take(8)).toDF("eid", "key", "ets")
      val a = (0 until 80).map(_ => (key(rnd), t(rnd.nextInt(100).toLong),
        rnd.nextInt(3).toLong, rnd.nextInt(5).toDouble))
        .toDF("key", "fts", "ca", "va")
      val b = (0 until 80).map(_ => (key(rnd), t(rnd.nextInt(100).toLong),
        t(rnd.nextInt(3).toLong), s"s${rnd.nextInt(5)}"))
        .toDF("key", "bts", "cb", "vb")
      val c = Seq.empty[(Option[String], Timestamp, Long, Double)].toDF("key", "cts", "cc", "vc")
      val sides = Seq(
        a -> AsOfSpec(Seq("key"), "ets", "fts", Some("ca"), Some(600L), Seq("va")),
        b -> AsOfSpec(Seq("key"), "ets", "bts", Some("cb"), None, Seq("vb")),
        c -> AsOfSpec(Seq("key"), "ets", "cts", Some("cc"), Some(1800L), Seq("vc")))
      def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
        df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val all = Seq("eid", "key", "ets", "va", "vb", "vc")
      val fold = sides.foldLeft(ents) { case (acc, (f, sp)) => AsOfJoin.windowed(acc, f, sp) }
      val want = rows(fold, all)
      assert(want.count(!_.endsWith("|null|null|null")) > 20, "too few matches to test")
      assert(want.exists(_.contains("|null|s")), "side a's ttl expired no pick")
      for ((salt, hot) <- Seq((1, Nil), (4, Nil), (8, Seq("k0")))) {
        val multi = AsOfJoin.windowed(ents, sides, salt, hot)
        assert(multi.columns.toSeq == all)
        assert(rows(multi, all) == want, s"seed=$seed salt=$salt hot=$hot")
        for ((f, sp) <- sides) {
          val cols = Seq("eid", "key", "ets") ++ sp.features
          assert(rows(multi, cols) == rows(AsOfJoin.rangeJoin(ents, f, sp, rowId = "eid"), cols),
            s"seed=$seed salt=$salt side=${sp.features}")
        }
      }
    }
  }

  test("no row explosion: output columns carry no internal __graft names") {
    val (ents, feats) = scenario(5L, 10, 10, 2)
    val out = AsOfJoin.windowed(ents.toDF(), feats.toDF(), spec(Some(60L)))
    assert(out.columns.forall(!_.startsWith("__graft")))
    assert(out.columns.toSeq == Seq("eid", "key", "ets", "v"))
  }
}
