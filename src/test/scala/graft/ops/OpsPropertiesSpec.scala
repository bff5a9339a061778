package graft.ops

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.materialize.Materialize

/** ScalaCheck properties for the round-5 scale-path operators, checked
  * against their reference-shape counterparts on randomized inputs:
  *
  *   1. digest-keyed exact dedup ≡ text-keyed exact dedup — same
  *      representative ids and duplicate counts on any corpus (duplicate
  *      mixes, unicode, empty strings, nulls), with and without the
  *      collision cross-check;
  *   2. bucket-scoped upsert ≡ latest-per-key over the union of its
  *      batches — equal read-back after any sequence of batches, including
  *      mid-sequence bucket-modulus changes (the manifest guard path).
  */
class OpsPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Long): java.sql.Timestamp =
    new java.sql.Timestamp(1618185600000L + min * 60000L)

  test("exactByDigest ≡ exact on randomized corpora (unicode, empty, null, dup mixes)") {
    // a small text pool forces duplicate groups; the pool mixes ascii,
    // multi-codepoint unicode, whitespace-only, empty, and null
    val pool = Vector(
      "the quick brown fox", "the quick brown fox ", "Grüße aus München",
      "日本語のテキスト 😀", "", "   ", "a", "A", null,
      "line one\nline two", "tab\tseparated")
    val genCorpus = for {
      n <- Gen.choose(0, 120)
      texts <- Gen.listOfN(n, Gen.oneOf(Gen.oneOf(pool), Gen.alphaNumStr))
    } yield texts.zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
    val prop = Prop.forAll(genCorpus) { corpus =>
      val df = corpus.toDF("doc_id", "text")
      def groups(out: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        out.select("doc_id", "n_dups").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byText = groups(Dedup.exact(df, "text", "doc_id"))
      val byDigest = groups(Dedup.exactByDigest(df, "text", "doc_id"))
      val byDigestVerified = groups(
        Dedup.exactByDigest(df, "text", "doc_id", verifyCollisions = true))
      byText == byDigest && byText == byDigestVerified
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withMaxSize(120), prop)
    assert(result.passed, s"property falsified: ${result.status}")
  }

  test("upsertLatestBucketed ≡ latestPerKey over random batch sequences incl. modulus changes") {
    // v is globally unique per generated row, so the (ts, v) tie order is
    // total and the latest-per-key winner is deterministic
    val genBatches = for {
      nBatches <- Gen.choose(1, 4)
      batches <- Gen.listOfN(nBatches, for {
        nRows <- Gen.choose(1, 25)
        rows <- Gen.listOfN(nRows, for {
          k <- Gen.choose(0L, 15L); ts <- Gen.choose(0L, 100L)
        } yield (k, ts))
        nBuckets <- Gen.oneOf(2, 4, 8)
      } yield (rows, nBuckets))
    } yield batches
    val prop = Prop.forAll(genBatches) { batches =>
      val root = java.nio.file.Files.createTempDirectory("graft_upsert_prop")
      val bucketed = graft.table.SnapshotTable(s"$root/b")
      var seq = 0
      val dfs = batches.map { case (rows, nBuckets) =>
        val df = rows.map { case (k, ts) =>
          seq += 1; (k, t(ts), seq.toDouble)
        }.toDF("k", "ts", "v")
        Materialize.upsertLatestBucketed(
          bucketed, df, Seq("k"), "ts", ties = Seq("v"), nBuckets = nBuckets)
        df
      }
      def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
        df.collect().map(r =>
          r.getLong(0) -> ((r.getTimestamp(1).getTime, r.getDouble(2)))).toMap
      rows(bucketed.read(spark)) ==
        rows(Materialize.latestPerKey(dfs.reduce(_ unionByName _), Seq("k"), "ts", ties = Seq("v")))
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6).withMaxSize(40), prop)
    assert(result.passed, s"property falsified: ${result.status}")
  }
}
