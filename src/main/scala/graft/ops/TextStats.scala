package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.RollingHash

/** Text-analysis operators for training-data curation, all pure column
  * expressions (whole-stage codegen, no UDFs):
  * token counting (whitespace + BPE-ish regex), quality heuristics,
  * stopword-ratio language scoring, and rolling-hash fingerprints.
  */
object TextStats {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** BPE-ish subword token estimate: one token per letter run, digit run,
    * or punctuation run — a GPT-2-style pretokenizer expressed as a MATCH
    * regex (no lookarounds, so the same pattern runs under Java regex here
    * and RE2 in the DuckDB oracle). An estimate, not a real BPE merge —
    * deterministic and cheap at 100 TB.
    */
  val BpeTokenPattern = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"""

  def bpeTokenEstimate(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast("long")

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      round(
        (length(text) - length(regexp_replace(text, """[\p{Punct}]""", ""))).cast("double")
          / length(text), 6))

  private val EnglishStopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** Fraction of whitespace words that are (lowercased) English stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val words = split(lower(trim(text)), "\\s+")
    // guard on the TEXT, not size(words): split("") yields [""] (size 1),
    // so a size===0 test never fires for empty/whitespace-only input
    when(length(trim(text)) === 0, lit(0.0)).otherwise(
      round(
        size(filter(words, w => w.isin(stopwords: _*)))
          .cast("double") / size(words), 6))
  }

  /** Mean word length — a cheap quality signal (gibberish skews high/low). */
  def meanWordLen(text: Column): Column = {
    val words = split(trim(text), "\\s+")
    when(length(trim(text)) === 0, lit(0.0)).otherwise(
      round(
        aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(words), 6))
  }

  /** Composite quality score in [0,1]: length band + stopword presence −
    * punctuation excess. Heuristic in the Gopher/C4-filter family.
    */
  def qualityScore(text: Column): Column = {
    val lenOk = when(tokenCount(text).between(5, 100000), lit(0.4)).otherwise(lit(0.0))
    val stopOk = when(stopwordRatio(text) >= 0.01, lit(0.3)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(text) <= 0.2, lit(0.3)).otherwise(lit(0.0))
    round(lenOk + stopOk + punctOk, 6)
  }

  /** Language scoring by per-language stopword hit rate; argmax wins.
    * N-gram-free heuristic (the container ships no langid model);
    * deterministic and column-pure so it runs inside the scan stage.
    */
  private val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val words = split(lower(trim(text)), "\\s+")
    LangStopwords.map { case (lang, sws) =>
      lang -> when(length(trim(text)) === 0, lit(0.0)).otherwise(
        size(filter(words, w => w.isin(sws: _*)))
          .cast("double") / size(words))
    }
  }

  /** Best-guess language id ("und" when no list scores > 0). */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map { case (lang, s) => struct(s.as("s"), lit(lang).as("l")) }
    val top = greatest(best: _*)
    when(top.getField("s") > 0, top.getField("l")).otherwise(lit("und"))
  }

  /** Intra-document repetition: fraction of word n-grams that are repeats
    * of an earlier n-gram in the same document — the Gopher-family
    * repetition quality filter. Pure column expression (n-gram hashes +
    * array_distinct); docs shorter than n grams score 0.
    */
  def repetitionRatio(text: Column, n: Int): Column = {
    // drop empty tokens (leading/trailing/runs of whitespace) — the same
    // tokenization as Dedup.wordShingles, so two documents differing only
    // in surrounding whitespace get the same repetition score
    val words = filter(split(text, "\\s+"), w => length(w) > 0)
    // all n-gram fingerprints in one O(text) native prefix scan — the
    // transform/xxhash64 formulation re-evaluated the split per gram
    // element (interpreted HOF, no loop-invariant hoisting)
    val grams = graft.functions.SpanHashes.span_hashes(words, n)
    when(size(words) < n, lit(0.0)).otherwise(
      round((size(grams) - size(array_distinct(grams))).cast("double") / size(grams), 6))
  }

  /** Fraction of whitespace words that are distinct — low values flag
    * template/boilerplate text (a Gopher-family signal). Pure expression.
    */
  def uniqueWordRatio(text: Column): Column = {
    val words = split(trim(text), "\\s+")
    // empty/whitespace-only text is 0.0 "unique", not 1.0: split("") yields
    // [""] (size 1), so the old size===0 guard was dead and an empty doc
    // scored maximally unique, sailing through gopherRules' unique_ok
    when(length(trim(text)) === 0, lit(0.0)).otherwise(
      round(size(array_distinct(words)).cast("double") / size(words), 6))
  }

  /** Gopher-style rule filter (Rae et al. 2021 §A1.1 family, thresholds are
    * caller knobs): per-rule 0/1 indicator columns plus the conjunction.
    * Everything is a pure column expression over one pass of the text, so
    * the whole filter runs inside the scan stage's codegen — the canonical
    * first stage of a 100 TB curation pipeline (prune before any shuffle).
    * Indicators are INTs, not booleans, so cross-engine gate hashing is
    * byte-stable.
    */
  def gopherRules(
      text: Column,
      minWords: Long = 50,
      maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      minUniqueRatio: Double = 0.3,
      minStopwordRatio: Double = 0.01,
      maxPunctRatio: Double = 0.2): Seq[(String, Column)] = {
    def ind(c: Column) = when(c, lit(1)).otherwise(lit(0))
    val rules = Seq(
      "words_ok" -> ind(tokenCount(text).between(minWords, maxWords)),
      "mean_len_ok" -> ind(meanWordLen(text).between(minMeanWordLen, maxMeanWordLen)),
      "unique_ok" -> ind(uniqueWordRatio(text) >= minUniqueRatio),
      "stop_ok" -> ind(stopwordRatio(text) >= minStopwordRatio),
      "punct_ok" -> ind(punctRatio(text) <= maxPunctRatio))
    rules :+ ("pass" -> rules.map(_._2).reduce[Column]((a, b) => a * b))
  }

  /** Top-k terms per document by TF-IDF, the classic corpus-statistics
    * keyword extractor. Fully declarative: words explode to (doc, term)
    * rows, tf and df are map-side-combinable aggregations, N is a 1-row
    * aggregate broadcast-crossed onto the term frame (no driver collect),
    * and idf = ln(N / df) joins back onto term occurrences BY TERM;
    * ranking is one window per doc. Scores round to 6 decimals BEFORE
    * ranking so ordering is reproducible cross-engine (ln differs by ulps
    * between libms).
    *
    * The df table joins back broadcast: the vocabulary of curated text is
    * usually broadcast-sized. Raw web text is hapax-heavy (vocabulary grows
    * ~linearly with the corpus), and a billion-term broadcast is a driver
    * OOM.
    */
  def tfIdfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"), w => length(w) > 0)).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = broadcast(tf.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val n = df.select(count(lit(1)).as("__n"))
    val scored = tf
      .join(docFreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("tfidf"), col("__rn").cast("long").as("rank"))
  }

  /** Per-group corpus statistics: document count, mean char length, and
    * token-count percentiles — the summary a curation run reports per
    * source/shard. One map-side-combinable shuffle for count/avg; the
    * percentiles are EXACT (Spark's interpolating `percentile`, =
    * quantile_cont semantics) when `approx = false` so the gate can oracle
    * them, and t-digest `approx_percentile` when `approx = true` — the
    * 100 TB path, where exact percentile's per-group value buffering is the
    * known memory hazard and a 1e-4-accuracy sketch is the right trade.
    */
  def corpusStats(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      charsCol: String,
      approx: Boolean = false): DataFrame = {
    val toks = tokenCount(col(textCol)).cast("double")
    def pct(p: Double) =
      if (approx) approx_percentile(toks, lit(p), lit(10000)).cast("double")
      else percentile(toks, lit(p))
    df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      round(avg(col(charsCol)), 6).as("avg_chars"),
      round(pct(0.5), 6).as("med_tokens"),
      round(pct(0.95), 6).as("p95_tokens"))
  }

  /** 61-bit rolling-hash document fingerprint (custom codegen Expression). */
  def fingerprint(text: Column): Column = RollingHash.rolling_hash(text)

  /** PII scrub (the Pile/C4-style redaction pass): masks email addresses,
    * IPv4 addresses, and long digit runs (phone/account numbers) with fixed
    * placeholder tokens. Pure chained `regexp_replace` — codegen'd, no UDF —
    * with patterns restricted to the regex-dialect intersection (character
    * classes, bounded repetition, `\b`) so any engine reproduces them
    * byte-for-byte; extend the chain for locale-specific shapes.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ipv4 = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ipv4, "\\b\\d{7,}\\b", "<NUM>")
  }

  /** CCNet-style LM quality score (Wenzek et al., LREC 2020 — filter or
    * bucket a crawl by language-model perplexity under a model trained on a
    * trusted reference corpus): average negative log-likelihood per bigram,
    * in nats, under a hashed-BIGRAM add-one-smoothed LM trained on the
    * `isRef` slice. CCNet trains KenLM on Wikipedia; the engine-portable
    * counterpart hashes words to `buckets` ids (Mix61 ∘ RollingHash — the
    * same trick as [[graft.ops.Sampling.importanceWeights]]) so every model
    * cell is an integer count any engine can replay, and scores each bigram
    * in integer MICRO-nats so the per-document aggregate is exact integer
    * arithmetic (the importanceWeights exactness contract: a rounded SUM
    * can flip on the boundary, a summed integer cannot).
    *
    * P(b2|b1) = (c(b1,b2) + 1) / (c(b1) + buckets); lm_nll =
    * Σ −ln P / n over the document's n consecutive bigrams (documents with
    * < 2 words have no bigram and are absent from the output). Lower is
    * more reference-like; `exp(lm_nll)` is the per-bigram perplexity.
    *
    * Shape at scale: the corpus is scanned ONCE into a compact
    * (doc, b1, b2, count) frame — it feeds both the model and the scoring,
    * so it is localCheckpoint'ed (eager): materialized to executor-local
    * blocks whose storage is released when the frame is GC'd, unlike
    * `cache()`, which pins a relation in the storage layer for the session
    * lifetime (repeated Verify/Bench calls would accumulate). The reference
    * model is two map-side-combinable aggregates over it (≤ buckets² pair
    * rows, ≤ buckets context rows). The model
    * joins back BROADCAST only while buckets² stays broadcast-sized
    * (≤ 2048 buckets ⇒ ≤ 4M pair cells); above that it is a plain shuffle
    * equi-join on (b1, b2) — the same size-gate calculus as
    * [[graft.ops.Dedup.connectedComponents]]'s driverMaxEdges. The final score
    * is one per-doc sum. Nothing driver-side.
    */
  def lmPerplexity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isRef: Column,
      buckets: Int,
      seed: Long): DataFrame = {
    require(buckets > 0, "buckets > 0")
    import graft.functions.Mix61
    val ws = filter(split(col(textCol), "\\s+"), w => length(w) > 0)
    val bs = transform(ws, w =>
      pmod(Mix61.mix61(RollingHash.rolling_hash(w), lit(seed)), lit(buckets.toLong)))
    val prs = when(size(bs) >= 2,
        zip_with(slice(bs, lit(1), size(bs) - 1), slice(bs, lit(2), size(bs) - 1),
          (a, b) => struct(a.as("b1"), b.as("b2"))))
      .otherwise(array().cast("array<struct<b1:bigint,b2:bigint>>"))
    val perDoc = df
      .select(col(idCol), isRef.as("__r"), explode(prs).as("__p"))
      .select(col(idCol), col("__r"),
        col("__p.b1").as("__b1"), col("__p.b2").as("__b2"))
      .groupBy(col(idCol), col("__b1"), col("__b2"))
      .agg(count(lit(1)).as("__c"), max(col("__r")).as("__r"))
      .localCheckpoint()
    val refPairs0 = perDoc.where(col("__r"))
      .groupBy(col("__b1"), col("__b2")).agg(sum(col("__c")).as("__cp"))
    val refCtx0 = refPairs0.groupBy(col("__b1")).agg(sum(col("__cp")).as("__cc"))
    val (refPairs, refCtx) =
      if (buckets <= 2048) (broadcast(refPairs0), broadcast(refCtx0))
      else (refPairs0, refCtx0)
    perDoc
      .join(refPairs, Seq("__b1", "__b2"), "left")
      .join(refCtx, Seq("__b1"), "left")
      .select(col(idCol), col("__c"),
        round(-log((coalesce(col("__cp"), lit(0L)) + 1).cast("double") /
          (coalesce(col("__cc"), lit(0L)) + buckets)) * 1e6, 0)
          .cast("long").as("__nll"))
      .groupBy(col(idCol))
      .agg((sum(col("__c") * col("__nll")).cast("double") / 1e6 /
        sum(col("__c"))).as("lm_nll"))
  }

  /** Convenience: full per-document stats frame. */
  def documentStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      tokenCount(col(textCol)).as("n_tokens"),
      bpeTokenEstimate(col(textCol)).as("n_bpe_est"),
      punctRatio(col(textCol)).as("punct_ratio"),
      stopwordRatio(col(textCol)).as("stopword_ratio"),
      meanWordLen(col(textCol)).as("mean_word_len"),
      qualityScore(col(textCol)).as("quality"),
      langId(col(textCol)).as("lang_guess"),
      fingerprint(col(textCol)).as("fingerprint"))
}
