package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.rollingFingerprint

/** Text-analysis operators for a training-data pipeline (builder prompt:
  * language-ID heuristic, quality scoring, token counting) over the
  * `documents` table.
  *
  * All of these are narrow, codegen'd column expressions — no UDFs, no
  * shuffle except the final sort (and the per-language rollup, whose group
  * count is |langs|). At 100 TB they stream through the scan at parquet
  * read speed.
  */
object TextOps extends OpModule {

  /** English function words used by the stopword-ratio heuristics. */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private def stopArr: Column = array(stopwords.map(lit): _*)

  private def toks: Column = split(col("text"), " ")

  /** Corpus rollup per language: doc/source counts, char/token volume. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens", size(toks))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .withColumn("avg_tokens",
        col("sum_tokens").cast("double") / col("n_docs"))
      .orderBy(col("lang"))

  /** One narrow pass computing every per-document text signal the
    * quality/language queries (and the corpus-clean pipeline) consume —
    * a single scan feeds them all.
    */
  def signals(s: SparkSession, dir: String): DataFrame =
    signalsFrame(Tables.documents(s, dir))

  /** [[signals]] over an arbitrary documents frame — the form composed
    * pipelines use so the signal math can ride a SHARED corpus pass
    * instead of a scan of its own.
    */
  private[graft] def signalsFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("uniq_ratio",
        size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio",
        size(filter(col("toks"), t => array_contains(stopArr, t)))
          .cast("double") / col("n_tokens"))
      .withColumn("avg_tok_len",
        (length(col("text")) - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens"))
      .withColumn("quality",
        col("uniq_ratio") * 0.5 + col("stop_ratio") * 0.3 +
          least(col("avg_tok_len") / 10.0, lit(1.0)) * 0.2)
      .withColumn("predicted_lang",
        when(col("stop_ratio") >= 0.15, "en")
          .when(col("stop_ratio") >= 0.05, "mixed")
          .otherwise("other"))

  /** Per-document quality signals: token count, type/token ratio, stopword
    * ratio, average token length, and a fixed linear quality score.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    signals(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("uniq_ratio"),
        col("stop_ratio"), col("avg_tok_len"), col("quality"))
      .orderBy(col("doc_id"))

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * (letter runs / digit runs / single punctuation marks).
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("ws_tokens", size(toks))
      .withColumn("bpe_tokens",
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"))
      .withColumn("chars_per_tok",
        length(col("text")).cast("double") / col("bpe_tokens"))
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
        col("chars_per_tok"))
      .orderBy(col("doc_id"))

  /** Language-ID heuristic: stopword-density buckets (an n-gram profile
    * degenerates to function-word density on this whitespace corpus).
    * Output includes the labeled lang for downstream precision analysis.
    */
  def langId(s: SparkSession, dir: String): DataFrame =
    signals(s, dir)
      .select(col("doc_id"), col("lang"), col("stop_ratio"),
        col("predicted_lang"))
      .orderBy(col("doc_id"))

  /** Deterministic stratified sampling — the training-corpus mixing
    * primitive: per-language sampling rates applied via a CONTENT-KEYED
    * hash threshold (md5 of doc_id, portable across engines), never
    * `rand()`. Fully narrow: the bucket is a projection over the shared
    * [[signals]] pass and the filter composes into the scan — no shuffle
    * beyond the presentation sort, and the same doc set falls out of
    * every run, engine, and partition layout (what makes a corpus recipe
    * reproducible). Rank-exact quotas would need a per-stratum sort; the
    * threshold form is the one that scales.
    */
  /** Weighted mixture sampling to a TOKEN budget — the data-mixing step
    * that turns per-source weights ("50% web, 30% books, 20% code") into
    * an actual training set: within each source, documents are taken in
    * a deterministic content-keyed pseudo-random order (md5 of doc_id —
    * reproducible across engines and cluster layouts, never `rand()`)
    * until the source's token budget fills; the doc that crosses the
    * boundary is included, so every budget is met. The fixture recipe
    * gives even-suffixed sources a 500-token budget and odd 250.
    *
    * Unlike [[sampleStratified]]'s rate threshold (which needs no
    * ordering at all), a token budget is a QUOTA — it needs the running
    * token sum per source in hash order. That is
    * [[graft.operators.WindowOps.spreadRank]]'s prefix machinery
    * (weight = n_tokens), so parallelism is the shuffle width, not the
    * source count — the same fix the round-5 window rewrite made; a
    * `Window.partitionBy(source)` would serialize each source through
    * one task at 100 TB.
    */
  def mixWeighted(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tokens"),
        md5(col("doc_id").cast("string")).as("mix_key"))
    WindowOps.spreadRank(base, "source",
        Seq(col("mix_key"), col("doc_id")),
        s.sessionState.conf.numShufflePartitions, weight = Some("n_tokens"))
      .withColumn("cum_before", col("__pre") - col("n_tokens"))
      .filter(col("cum_before") <
        when(expr("CAST(substring(source, 4) AS INT)") % 2 === 0, 500)
          .otherwise(250))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_before"))
      .orderBy(col("doc_id"))
  }

  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    signals(s, dir)
      .withColumn("bucket", md5Bucket(col("doc_id"), 100))
      .filter(col("bucket") < expr(
        "CASE predicted_lang WHEN 'en' THEN 30 WHEN 'mixed' THEN 50 ELSE 10 END"))
      .select(col("doc_id"), col("predicted_lang"), col("bucket"))
      .orderBy(col("doc_id"))

  /** Order-sensitive document fingerprint: Rabin-Karp-style rolling hash
    * over the token stream (acc·31 + xxhash64(token) mod 2^31-1 — modular
    * so ANSI mode can't overflow) plus a winnowing-lite minimum over
    * 8-token window hashes — the classic near-exact-dup / containment
    * fingerprint pair. The engine-internal hash has no SQL oracle, so
    * the QUERY surface is carried by [[fingerprintPortable]] (identical
    * fold and window minimum, md5-derived token hashes, value-for-value
    * oracled) while this fast path stays a library function with unit
    * invariants (LlmOpsSpec).
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("toks", toks)
      .withColumn("fp", rollingFingerprint(col("toks")))
      .select(col("doc_id"), col("fp")(0).as("fingerprint"),
        col("fp")(1).as("win_min_hash"))
      .orderBy(col("doc_id"))
  }

  /** [[fingerprint]] in portable-hash mode: the same Rabin-Karp fold and
    * 8-token-window minimum, but over md5-derived token hashes any engine
    * can recompute — giving the fingerprint family its value-for-value
    * SQL oracle (the `llm_simhash_portable` move), while the xxhash64
    * default stays the fast path.
    */
  def fingerprintPortable(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("toks", toks)
      .withColumn("fp", rollingFingerprint(col("toks"), portable = true))
      .select(col("doc_id"), col("fp")(0).as("fingerprint"),
        col("fp")(1).as("win_min_hash"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF per (doc, token): tf · ln(N/df). One explode, two hash
    * aggregates, one broadcast-able join of the (tiny) df table back onto
    * the term rows — the canonical text-weighting pipeline. ln of a
    * single division is one IEEE op each → cross-engine identical.
    */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // corpus size as a broadcast one-row aggregate (a scalar subquery,
    // physically): keeps the whole query ONE job instead of a separate
    // driver-side count action
    val nRow = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    // pinned: tf is read by the join below AND is the df census' input —
    // df(token) is exactly tf's per-token row count (tf rows ARE the
    // distinct (doc, token) pairs), so deriving df from the pinned tf
    // saves the second corpus explode + the distinct the old form paid
    val tf = terms.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.Checkpoints.truncate)
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(nRow))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs") / col("df")))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("tfidf"))
      .orderBy(col("doc_id"), col("token"))
  }

  /** Vocabulary census: the top-100 tokens by corpus frequency with each
    * prefix's cumulative share of ALL token occurrences — the first
    * artifact a tokenizer-training run reads ("how many types cover 90%
    * of the stream?"), and the coverage curve that decides vocab size.
    *
    * Scale shape: one explode + one hash aggregate over the token space
    * (map-side partials absorb the heavy hitters — exactly the skew this
    * query exists to find), the top-100 via `TakeOrderedAndProject`
    * (bounded heap per partition, never a global sort), the corpus total
    * as a broadcast one-row aggregate (the [[tfidf]] precedent), and the
    * rank/coverage window over the 100-row RESULT frame only.
    * Tie-break (n desc, token) keeps ranks deterministic cross-engine.
    */
  def vocabCensus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).cast("double").as("total"))
    val w = Window.orderBy(col("n").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.orderBy(col("n").desc, col("token")).limit(100)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("token"))).cast("long"))
      .withColumn("cum_share",
        sum(col("n")).over(w).cast("double") / col("total"))
      .select(col("rank"), col("token"), col("n"), col("cum_share"))
      .orderBy(col("rank"))
  }

  /** BPE pair census: the frequency table of ADJACENT token pairs across
    * the corpus — the inner statistic of byte-pair-encoding tokenizer
    * training (each merge round picks the most frequent adjacent pair;
    * this is that census for round one, top-50). Pairs are built by
    * zipping each token list against itself shifted by one
    * (`slice`+`arrays_zip` — pure narrow array ops, no join, no
    * positional explode-then-self-join), so the only shuffle is the
    * count's map-side-combined hash aggregate and the top-50 is a
    * bounded-heap `TakeOrderedAndProject`. Tie-break (n desc, a, b) is a
    * total order over distinct pairs, so the cutoff is deterministic.
    */
  /** Shared adjacent-pair census: distinct (a, b) token pairs with their
    * corpus counts — the frame both [[bpePairs]] and [[bigramLm]] read,
    * built once so a tokenization change cannot drift between them.
    */
  private def pairCounts(s: SparkSession, dir: String,
      cntName: String): DataFrame =
    pairCountsOf(Tables.documents(s, dir), cntName)

  /** [[pairCounts]] over an arbitrary document frame — the held-out
    * forms train on a SLICE, so the census can't be dir-bound.
    */
  private def pairCountsOf(docs: DataFrame, cntName: String): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .select(explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1).as("a"),
        slice(toks, lit(2), size(toks) - 1).as("b"))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as(cntName))
  }

  def bpePairs(s: SparkSession, dir: String): DataFrame =
    pairCounts(s, dir, "n")
      .orderBy(desc("n"), col("a"), col("b"))
      .limit(50)

  /** Bigram language-model table: p(b|a) = n(a,b) / n(a·) for the top-30
    * bigrams — the maximum-likelihood estimate a count-based LM (or a
    * data-mixing diagnostic) reads off the corpus. Same narrow slice+zip
    * pair build as [[bpePairs]]; the leading-token total rides a window
    * over the AGGREGATED (a,b) frame partitioned by `a` — a key whose
    * cardinality is the vocabulary, so it scales with the corpus (never a
    * low-cardinality straggler), and the frame it runs over is the count
    * table, not the token stream. p divides two exact longs — the same
    * IEEE op on both engines.
    */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pairCounts(s, dir, "n_ab")
      .withColumn("n_a", sum(col("n_ab")).over(Window.partitionBy(col("a"))))
      .withColumn("p",
        col("n_ab").cast("double") / col("n_a").cast("double"))
      .orderBy(desc("n_ab"), col("a"), col("b"))
      .limit(30)
  }

  /** Interpolated Kneser–Ney smoothed bigram probabilities (Kneser &
    * Ney 1995; the Chen & Goodman 1998 interpolated form with a fixed
    * absolute discount D = 0.75) — the smoothing every count-based
    * n-gram LM actually ships, next to [[bigramLm]]'s raw MLE:
    *
    *   p_KN(b|a) = max(n(a,b) − D, 0) / n(a·)
    *             + (D · N1+(a·) / n(a·)) · N1+(·b) / N1+(··)
    *
    * where N1+(a·) = distinct continuations of `a`, N1+(·b) = distinct
    * left-contexts of `b` (the "how many contexts has `b` completed"
    * continuation count — KN's insight), N1+(··) = distinct bigram
    * types. D = 0.75 is exactly representable in binary, so every term
    * is either an exact-long cast or an IEEE op both engines sequence
    * identically; the probability ships quantized to integer
    * micro-units (the [[perplexity]] lq stance).
    *
    * Scale shape: everything runs on the [[pairCounts]] census
    * (distinct-bigram cardinality, never corpus volume) — one
    * vocabulary-keyed window for the leading-token totals, one
    * map-side-combined aggregate for the continuation counts, one
    * broadcast 1-row type total (the llm_tfidf scalar cross-join
    * pattern — a 1-row-build BNLJ, constant work per census row, never
    * a data×data product; QueriesSmokeSpec-allowlisted); top-30 is a
    * bounded heap.
    */
  private[graft] def kneserNeyAll(s: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned: the per-a window pass, the per-b continuation census and
    // the type total all read the pair census — unpinned, each re-ran
    // the corpus bigram explode
    val pc = pairCounts(s, dir, "n_ab")
      .transform(graft.Checkpoints.truncate)
    val wA = Window.partitionBy(col("a"))
    val withA = pc
      .withColumn("n_a", sum(col("n_ab")).over(wA))
      // pairCounts rows ARE distinct (a, b) types, so the per-a row
      // count is exactly N1+(a·)
      .withColumn("n1p_a", count(lit(1)).over(wA))
    val contB = pc.groupBy(col("b")).agg(count(lit(1)).as("n1p_b"))
    val total = pc.agg(count(lit(1)).as("n_types"))
    withA.join(contB, Seq("b"))
      .crossJoin(broadcast(total))
      .withColumn("p_kn_micro",
        round((greatest(col("n_ab").cast("double") - lit(0.75), lit(0.0)) /
            col("n_a").cast("double") +
          lit(0.75) * col("n1p_a").cast("double") /
            col("n_a").cast("double") *
            (col("n1p_b").cast("double") / col("n_types").cast("double"))) *
          lit(1000000.0), 0).cast("long"))
      .select(col("a"), col("b"), col("n_ab"), col("p_kn_micro"))
  }

  def kneserNey(s: SparkSession, dir: String): DataFrame =
    kneserNeyAll(s, dir)
      .orderBy(desc("n_ab"), col("a"), col("b"))
      .limit(30)

  /** HELD-OUT perplexity under the interpolated Kneser–Ney model — the
    * evaluation [[perplexity]]'s MLE join cannot do: train the smoothed
    * LM on the snapshot slice (doc_id < boundary), score the batch
    * slice, and give UNSEEN bigrams real probability mass instead of
    * dropping them (the inner-join limitation the MLE form documents).
    * Three backoff regimes, each a `when` branch both engines replay in
    * the same order:
    *
    *   - (a,b) seen in training: full interpolated KN;
    *   - `a` seen, pair unseen:  λ(a) · p_cont(b) — the backoff weight
    *     times the continuation probability (0 if `b` never continues
    *     anything in training);
    *   - `a` unseen: p_cont(b) alone (unigram continuation backoff).
    *
    * A hard floor of 1e-9 keeps truly-OOV bigrams (both routes above can
    * yield exactly 0) finite — the standard OOV bucket, applied as
    * `greatest(p, 1e-9)` identically on both engines. Per-distinct-pair
    * quantization to integer micro-nats and the exact-long per-doc sum
    * are the [[perplexity]] parity stance.
    *
    * Scale shape: the training census is [[pairCountsOf]] on the slice
    * (map-side combined, vocab²-bounded); per-a and per-b stats are
    * vocab-sized broadcasts; the type total is the sanctioned 1-row
    * cross (QueriesSmokeSpec-allowlisted); the scoring pass is one
    * doc-census aggregate + broadcast joins — linear in the batch, and
    * the boundary literal pushes into the parquet scan.
    */
  def perplexityKn(s: SparkSession, dir: String): DataFrame = {
    val k = Tables.snapshotBoundary(s, dir, "documents")
    val docs = Tables.documents(s, dir)
    perplexityKnFrames(s,
      docs.filter(col("doc_id") < lit(k)),
      docs.filter(col("doc_id") >= lit(k)))
  }

  /** [[perplexityKn]] serving from the PERSISTED KN model — the
    * production form every other expensive family already has
    * ([[lmStore]], the dsir lr table, the dedup label store): the four
    * model tables ([[knModelOf]] — pair census, per-`a` totals +
    * fan-out, per-`b` continuation counts, type total; all exact longs)
    * are built ONCE per fixture fingerprint from the snapshot slice and
    * land as parquet; a scoring run then pays exactly one batch
    * doc-census pass + the broadcast model joins — never the training
    * census. Identical output by construction (the stored longs ARE the
    * recompute's, and [[knScore]] is the same code path), so it shares
    * `llm_perplexity_kn`'s oracle.
    */
  def perplexityKnServed(s: SparkSession, dir: String): DataFrame = {
    val k = Tables.snapshotBoundary(s, dir, "documents")
    val root = ArtifactStore.cached("kn_lm", dir) { out =>
      val (pc, aStats, bStats, tot) = knModelOf(Tables.documents(s, dir)
        .filter(col("doc_id") < lit(k)), checkpoint = true)
      pc.write.mode("overwrite").parquet(s"$out/pc.parquet")
      aStats.write.mode("overwrite").parquet(s"$out/a_stats.parquet")
      bStats.write.mode("overwrite").parquet(s"$out/b_stats.parquet")
      tot.write.mode("overwrite").parquet(s"$out/total.parquet")
    }
    knScore(
      s.read.parquet(s"$root/pc.parquet"),
      s.read.parquet(s"$root/a_stats.parquet"),
      s.read.parquet(s"$root/b_stats.parquet"),
      s.read.parquet(s"$root/total.parquet"),
      Tables.documents(s, dir).filter(col("doc_id") >= lit(k)))
  }

  /** [[perplexityKn]] over explicit (train, score) frames — the spec
    * entry point for synthetic corpora exercising every backoff branch.
    */
  private[graft] def perplexityKnFrames(s: SparkSession, train: DataFrame,
      score: DataFrame): DataFrame = {
    // checkpoint = true: the scorer consumes all four model tables, so
    // an unpinned census would re-run the train-slice token explode
    // once per table (4×) — the same reasoning the served artifact
    // build already applied
    val (pc, aStats, bStats, tot) = knModelOf(train, checkpoint = true)
    knScore(pc, aStats, bStats, tot, score)
  }

  /** The four KN model tables from a training slice — ALL exact longs
    * (pair census; per-`a` totals + continuation fan-out; per-`b`
    * left-context counts; 1-row type total), so a parquet round-trip
    * reproduces the inline model bit-for-bit and the served scorer
    * shares [[perplexityKn]]'s oracle.
    */
  private def knModelOf(train: DataFrame, checkpoint: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val pc0 = pairCountsOf(train, "n_ab")
    // the artifact build materializes four tables from one census —
    // checkpoint it there so the train-slice token explode runs once
    val pc = if (checkpoint) pc0.transform(graft.Checkpoints.truncate)
      else pc0
    val aStats = pc.groupBy(col("a"))
      .agg(sum(col("n_ab")).as("n_a"), count(lit(1)).as("n1p_a"))
    val bStats = pc.groupBy(col("b")).agg(count(lit(1)).as("n1p_b"))
    val tot = pc.agg(count(lit(1)).as("n_types"))
    (pc, aStats, bStats, tot)
  }

  /** The held-out KN scoring pass over explicit model tables — shared
    * by the inline form and [[perplexityKnServed]]'s read-back path.
    */
  private def knScore(pc: DataFrame, aStats: DataFrame, bStats: DataFrame,
      tot: DataFrame, score: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val docPairs = score
      .select(col("doc_id"), explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1).as("a"),
        slice(toks, lit(2), size(toks) - 1).as("b"))).as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
      .groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
    val pCont = coalesce(col("n1p_b").cast("double"), lit(0.0)) /
      col("n_types").cast("double")
    val pRaw = when(col("n_a").isNotNull && col("n_ab").isNotNull,
        greatest(col("n_ab").cast("double") - lit(0.75), lit(0.0)) /
          col("n_a").cast("double") +
          lit(0.75) * col("n1p_a").cast("double") /
            col("n_a").cast("double") * pCont)
      .when(col("n_a").isNotNull,
        lit(0.75) * col("n1p_a").cast("double") /
          col("n_a").cast("double") * pCont)
      .otherwise(pCont)
    docPairs
      .join(pc, Seq("a", "b"), "left")
      .join(broadcast(aStats), Seq("a"), "left")
      .join(broadcast(bStats), Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("lq",
        round(log(greatest(pRaw, lit(1e-9))) * lit(1000000.0), 0)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("lq")).as("sum_lq"),
        sum(when(col("n_ab").isNull, col("c")).otherwise(lit(0L)))
          .as("n_unseen"))
      .withColumn("avg_nll_micro", expr("(-sum_lq) div n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        (col("avg_nll_micro").cast("double") / lit(1000000.0))
          .as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity filtering: score every document by its
    * average negative log-likelihood under the corpus-trained bigram LM
    * (the [[bigramLm]] counts) and flag high-perplexity outliers — the
    * standard model-based quality gate between heuristic filtering and
    * dedup in a training-data pipeline.
    *
    * Parity design — FIXED-POINT log-probabilities: each distinct
    * bigram's ln p(b|a) is quantized ONCE to integer micro-nats
    * (`round(ln(p)·10⁶)` as BIGINT), so the per-doc score is an EXACT
    * integer sum (Σ c·lq) that no engine- or partition-dependent
    * float-accumulation order can perturb; the only doubles are one
    * final division and the two `ln` calls per DISTINCT bigram, whose
    * last-ulp wobble would have to land exactly on a 10⁻⁶ grid boundary
    * to flip a bit. The flag itself compares integers
    * (−Σ c·lq > 3.7·10⁶·n), so the verdict cannot float.
    *
    * Scale shape: the per-doc bigram census is a map-side-combined hash
    * aggregate; the LM is the [[pairCounts]] frame (distinct-bigram
    * cardinality, NOT corpus volume) with the leading-token total from a
    * vocabulary-keyed window; the join back to doc bigrams is 1:1 on
    * (a, b) — no fan-out. At 100 TB production prunes the LM to a top-V
    * vocabulary with an OOV backoff bucket and broadcasts it; the exact
    * join here keeps the oracle exact, and is itself one well-keyed
    * shuffle. Docs with <2 tokens have no bigram evidence and drop out
    * (a perplexity gate cannot judge them; the length gate in
    * [[qualityScore]] owns that regime).
    */
  def perplexity(s: SparkSession, dir: String): DataFrame =
    perplexityFromStore(s, dir, lmArtifact(s, dir))

  /** The quantized bigram LM as a persistable MODEL TABLE (a, b, lq) —
    * what a corpus snapshot trains once and ships; scoring runs read it,
    * never the corpus that built it. The query form builds it inline;
    * round-trip equivalence is asserted in Round6bOpsSpec.
    */
  def lmArtifact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pairCounts(s, dir, "n_ab")
      .withColumn("n_a", sum(col("n_ab")).over(Window.partitionBy(col("a"))))
      .withColumn("lq", round(log(
        col("n_ab").cast("double") / col("n_a").cast("double")) *
        lit(1000000.0), 0).cast("long"))
      .select(col("a"), col("b"), col("lq"))
  }

  /** The persisted [[lmArtifact]] — built once per fixture fingerprint
    * ([[ArtifactStore]], the [[mergeStore]]/dsir_lr precedent) and read
    * back as a parquet model table. Vocabulary²-bounded rows of exact
    * integers, so the store is engine-independent and the served twins
    * emit byte-identical scores to their inline forms.
    */
  private[operators] def lmStore(s: SparkSession, dir: String): DataFrame = {
    val root = ArtifactStore.cached("bigram_lm", dir) { out =>
      lmArtifact(s, dir).write.mode("overwrite")
        .parquet(s"$out/lm.parquet")
    }
    s.read.parquet(s"$root/lm.parquet")
  }

  /** [[perplexity]] against the persisted [[lmStore]] — same output
    * (shared oracle), production serving cost: a scoring run pays one
    * doc-census pass + the model join, never the corpus-wide LM
    * training aggregate.
    */
  def perplexityServed(s: SparkSession, dir: String): DataFrame =
    perplexityFromStore(s, dir, lmStore(s, dir))

  /** [[perplexity]] scoring a batch against a PERSISTED [[lmArtifact]] —
    * the production form: the LM never retrains per scoring run.
    */
  def perplexityFromStore(s: SparkSession, dir: String,
      lm: DataFrame): DataFrame =
    perplexityMicro(s, dir, lm)
      .select(col("doc_id"), col("n_bigrams"),
        (col("avg_nll_micro").cast("double") / lit(1000000.0))
          .as("avg_nll"),
        (-col("sum_lq") > lit(3700000L) * col("n_bigrams")).as("flagged"))
      .orderBy(col("doc_id"))

  /** The integer core of [[perplexityFromStore]]: per-doc exact micro-nat
    * sums against the LM, before any double leaves the pipeline —
    * (doc_id, n_bigrams, sum_lq, avg_nll_micro). Shared with
    * [[CurationOps.qualityBuckets]] so the bucket gate and the flag gate
    * score documents from the SAME integers and cannot drift.
    */
  private[graft] def perplexityMicro(s: SparkSession, dir: String,
      lm: DataFrame): DataFrame =
    perplexityMicroDocs(Tables.documents(s, dir), lm)

  /** [[perplexityMicro]] over an explicit document frame — the serving
    * twins score a crawl BATCH against the stored LM without touching
    * snapshot text ([[CurationOps.qualityBucketsServed]]).
    */
  private[graft] def perplexityMicroDocs(docs: DataFrame,
      lm: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val docPairs = docs
      .select(col("doc_id"), explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1).as("a"),
        slice(toks, lit(2), size(toks) - 1).as("b"))).as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
      .groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
    docPairs.join(lm, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("lq")).as("sum_lq"))
      // avg_nll stays fixed-point to the very end: integer micro-nats
      // per bigram (truncating div of exact longs), then ONE exact-int
      // double division — a round(rational, 4) here would reintroduce
      // the decimal-tie divergence the lq quantization exists to avoid
      .withColumn("avg_nll_micro", expr("(-sum_lq) div n_bigrams"))
  }

  /** Out-of-vocabulary rate — the tokenizer-health metric a pipeline
    * tracks when the corpus drifts from the vocabulary it was tokenized
    * with: per document, the share of token OCCURRENCES outside the
    * top-V corpus vocabulary (V = 20 here; production V is the tokenizer
    * vocab). The vocabulary is deterministic (count desc, token asc —
    * the [[vocabCensus]] tie-break) and BROADCASTS: at 100 TB the vocab
    * is a model artifact of fixed size, so the scoring pass is one
    * narrow explode + broadcast join + per-doc count, linear in the
    * corpus. oov_rate divides two exact longs.
    */
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token")).limit(20)
      .select(col("token"), lit(1).as("in_vocab"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      // fixed-point 4dp: round(n_oov/n_tokens, 4) is an exact-rational
      // rounding whose decimal ties (1/160 = 0.00625) Spark and DuckDB
      // resolve differently; the integer div has no tie to disagree on
      .withColumn("oov_rate",
        expr("n_oov * 10000 div n_tokens").cast("double") / lit(10000.0))
      .orderBy(col("doc_id"))
  }

  /** Character-level Shannon entropy per document — the gibberish/
    * boilerplate detector quality filters run beside the token-level
    * signals ([[qualityScore]]): natural prose sits near the language's
    * character entropy (~2.5–4 nats), while repeated padding, encoded
    * blobs, or single-char spam fall far below/above. H = Σ (c/len) ·
    * ln(len/c) over the per-doc character histogram.
    *
    * Parity design (the [[perplexity]] micro-nat stance): each distinct
    * (len, cnt) log term is quantized ONCE to integer micro-nats
    * (`round(1e6 · ln(len/cnt))`), the per-doc total is an EXACT integer
    * sum no accumulation order can perturb, and the low-entropy verdict
    * compares integers (`hsum < 2.0 · len · 1e6`), so the flag cannot
    * flip on a last-ulp. The presented double is one final division.
    *
    * Scale shape: the histogram is `explode` + one hash aggregate keyed
    * (doc_id, ch) — map-side combine bounds the shuffle at
    * |docs| · |alphabet| rows, NOT corpus characters; the per-doc
    * reduction reuses the same doc_id clustering. Both keys grow with
    * the data; nothing is driver-side.
    */
  def charEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("len"), col("ch"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lq",
        round(log(col("len").cast("double") / col("cnt").cast("double"))
          * 1e6, 0).cast("long"))
      .groupBy(col("doc_id"), col("len"))
      .agg(sum(col("cnt") * col("lq")).as("hsum"),
        count(lit(1)).as("n_distinct_chars"))
      .withColumn("entropy_nats",
        col("hsum").cast("double") / (col("len").cast("double") * lit(1e6)))
      .withColumn("low_entropy", col("hsum") < lit(2000000L) * col("len"))
      .select(col("doc_id"), col("len"), col("n_distinct_chars"),
        col("entropy_nats"), col("low_entropy"))
      .orderBy(col("doc_id"))

  /** Temperature-based source rebalancing (the mT5/XLM-R recipe,
    * arXiv:1910.10683 §3.4.2 / arXiv:1911.02116 §3): per-language budgets
    * ∝ (n_lang/N)^α with α = 0.5, so low-resource languages are
    * up-weighted relative to their raw share (en falls from ~42% of this
    * corpus to ~33% of the sample), then the budget is filled in
    * deterministic md5-key order — [[mixWeighted]]'s rank machinery with
    * TEMPERATURE-DERIVED quotas instead of given ones.
    *
    * Parity design: each language's weight `sqrt(n_lang/N)` is quantized
    * ONCE to integer micro-units (IEEE sqrt is correctly rounded, so the
    * double is engine-identical; the quantization is the [[perplexity]]
    * move), the normalizer is the EXACT integer sum of those quanta —
    * never a float sum whose order could differ — and each target is one
    * integer `budget · wq div w_sum`. Selection is rank ≤ target under
    * the content-keyed md5 order ([[sampleStratified]]'s contract), so
    * the same docs fall out of every run, engine, and partition layout.
    *
    * Scale shape: the language census is one map-side-combined count;
    * weights/targets ride unpartitioned windows over that ≤|langs|-row
    * METADATA frame (the dq_histogram precedent — data volume never
    * meets an unpartitioned window); ranking is [[WindowOps.spreadRank]]
    * (range-partitioned two-pass), so parallelism is the shuffle width,
    * not the language count; targets broadcast back onto the ranked docs.
    */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 200L
    val w = Window.partitionBy()
    val targets = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      .withColumn("n_total", sum(col("n_lang")).over(w))
      .withColumn("wq",
        round(sqrt(col("n_lang").cast("double") /
          col("n_total").cast("double")) * 1e6, 0).cast("long"))
      .withColumn("w_sum", sum(col("wq")).over(w))
      .withColumn("target", expr(s"$budget * wq div w_sum"))
      .select(col("lang"), col("target"))
    val ranked = WindowOps.spreadRank(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string")).as("samp_key")),
      "lang", Seq(col("samp_key"), col("doc_id")),
      s.sessionState.conf.numShufflePartitions)
    ranked.join(broadcast(targets), "lang")
      .filter(col("__rn") <= col("target"))
      .select(col("doc_id"), col("lang"), col("__rn").as("sample_rank"),
        col("target"))
      .orderBy(col("doc_id"))
  }

  /** One full BPE training step: find the most frequent adjacent token
    * pair, apply the merge GREEDILY left-to-right (the tokenizer-training
    * semantics: in `a a a`, positions 1–2 merge and position 2–3 cannot —
    * its left token was consumed), and recount pairs on the merged
    * stream — the loop body `llm_bpe_pairs` only scores once.
    *
    * Greedy-without-sequential-state: a merge conflict only exists where
    * consecutive positions BOTH match, which requires a self-pair
    * (`t_{i+1} = b = a`); runs of consecutive matches therefore merge at
    * odd run-offsets only. That is the gaps-and-islands pattern —
    * `pos − row_number()` groups each run, `rn % 2 = 1` keeps the greedy
    * winners — expressible identically in both engines' window functions,
    * so the oracle replays the merge without any reliance on string-
    * replace traversal order.
    *
    * Scale shape: every window partitions by `doc_id` (cardinality =
    * corpus size — never a straggler key); the chosen pair is a 1-row
    * broadcast (the tfidf-sanctioned pattern); the recount is a map-side-
    * combined aggregate bounded by the pair vocabulary. No self-join of
    * the token stream, no quadratic term.
    */
  def bpeMergeStep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // pinned: the pair census, the tag pass and the merge windows all
    // read the lookahead stream — unpinned, each re-ran the corpus
    // posexplode + lead window
    val withNext = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
      .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      .transform(graft.Checkpoints.truncate)
    val top = withNext.filter(col("nxt").isNotNull)
      .groupBy(col("tok").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("a"), col("b")).limit(1)
      .select(col("a"), col("b"))
    val tagged = withNext.crossJoin(broadcast(top))
      .withColumn("m", col("tok") === col("a") && col("nxt") === col("b"))
    val kept = tagged.filter(col("m"))
      .withColumn("grp", col("pos") - row_number().over(wDoc))
      .withColumn("rn",
        row_number().over(
          Window.partitionBy(col("doc_id"), col("grp")).orderBy(col("pos"))))
      .filter(col("rn") % 2 === 1)
      .select(col("doc_id"), col("pos"), lit(true).as("kept"))
    val merged = tagged.join(kept, Seq("doc_id", "pos"), "left")
      .withColumn("kprev", lag(col("kept"), 1).over(wDoc))
      .filter(!coalesce(col("kprev"), lit(false)))
      .withColumn("otok",
        when(coalesce(col("kept"), lit(false)), concat(col("a"), col("b")))
          .otherwise(col("tok")))
    merged
      .withColumn("nxt2", lead(col("otok"), 1).over(wDoc))
      .filter(col("nxt2").isNotNull)
      .groupBy(col("a"), col("b"),
        col("otok").as("pair_left"), col("nxt2").as("pair_right"))
      .agg(count(lit(1)).as("n"))
      .select(concat(col("a"), col("b")).as("merge_token"),
        col("pair_left"), col("pair_right"), col("n"))
      .orderBy(desc("n"), col("pair_left"), col("pair_right")).limit(10)
  }

  /** Number of merge rounds [[bpeTrain]] runs — small enough that the
    * DuckDB oracle's unrolled per-round CTE replay stays readable, big
    * enough that merged tokens re-merge (the property one step cannot
    * show). Production would raise this to vocab-size − base-vocab; the
    * loop shape is round-count-independent.
    */
  private[operators] val bpeTrainMerges = 4

  /** Iterated BPE tokenizer training: run [[bpeMergeStep]]'s greedy merge
    * N times, emitting the RANKED MERGE TABLE (merge_rank, a, b,
    * merge_token, n-at-selection) — the artifact a real BPE trainer
    * ships (the merges.txt of a GPT-2-style tokenizer). Each round picks
    * the most frequent adjacent pair on the CURRENT stream (so round 2
    * can pick a pair containing round 1's merged token), applies the
    * greedy left-to-right merge via the same gaps-and-islands windows as
    * the single step, and renumbers positions DENSE — the run-grouping
    * arithmetic (`pos − row_number()`) is only adjacency-faithful on a
    * dense numbering, which merging just perforated.
    *
    * Scale shape: per round, two doc_id-partitioned window passes plus
    * one map-side-combined pair census — O(corpus) each, no self-join.
    * The chosen pair is ONE row collected driver-side (a model
    * parameter, the [[graft.operators.SimOps]] quantizer-seed stance)
    * and re-embedded as a literal, so the per-round plan is
    * literal-parameterized, not correlated. Round streams pass through
    * [[graft.Checkpoints.truncate]] (reliable-checkpoint upgradable): N
    * rounds of window lineage would otherwise stack into one giant
    * plan, and the eager cut lets the previous round's shuffle files
    * drop. The oracle replays all N rounds as
    * unrolled DuckDB CTEs generated from the same [[bpeTrainMerges]], so
    * round count cannot drift between engines.
    */
  /** The corpus as a dense positional token stream — the frame every
    * BPE round rewrites.
    */
  private def bpeTokenStream(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("tok"))
      .transform(graft.Checkpoints.truncate)

  /** The merge pass over the FULL lookahead frame — the right plan
    * when the winning pair is corpus-wide (candidate joins would only
    * add two full-stream exchanges for zero pruning).
    */
  private def plainMergePass(withNext: DataFrame,
      a: String, b: String): DataFrame =
    mergeCore(withNext, a, b)

  /** The shared greedy gaps-and-islands merge mechanics over a
    * whole-document slice of the lookahead frame (doc_id, pos, tok,
    * nxt) — both pass variants delegate here, so bounded and plain
    * rounds are mechanically identical per affected doc.
    */
  private def mergeCore(slice: DataFrame,
      a: String, b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tagged = slice
      .withColumn("m", col("tok") === lit(a) && col("nxt") === lit(b))
    val kept = tagged.filter(col("m"))
      .withColumn("grp", col("pos") - row_number().over(wDoc))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"), col("grp"))
          .orderBy(col("pos"))))
      .filter(col("rn") % 2 === 1)
      .select(col("doc_id"), col("pos"), lit(true).as("kept"))
    tagged.join(kept, Seq("doc_id", "pos"), "left")
      .withColumn("kprev", lag(col("kept"), 1).over(wDoc))
      .filter(!coalesce(col("kprev"), lit(false)))
      .select(col("doc_id"), col("pos").as("oldpos"),
        when(coalesce(col("kept"), lit(false)), concat(lit(a), lit(b)))
          .otherwise(col("tok")).as("tok"))
      .select(col("doc_id"),
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("oldpos"))).cast("long").as("pos"),
        col("tok"))
  }

  /** Corpus size above which training runs the doc-array form. The
    * original bar (20000) paid for the array form's per-round
    * cache-force action — one full corpus pass per round for zero
    * information — which made the plain windowed form cheaper on small
    * fixtures. Round 18 FUSED that force into the census job (the
    * census scan applies the pending merge map and fills the new cache
    * in the same pass), after which the array form wins in EVERY
    * measured regime: 2.24→1.10 s (train) at 500 docs, 4.18→1.57 s at
    * 5000 docs (BENCH_bpe_* A/B, r18), and it already won the 100×
    * stress tier. Bar 0 = always the array form; the plain loop remains
    * as the fully plan-analyzable definition Round12OpsSpec pins the
    * array form bit-identical against (merge table AND final stream).
    */
  private val bpeAdaptiveMinDocs = 0L

  /** The pair census of a lookahead slice — the (a, b) → count frame
    * each plain-form training round argmaxes over. Map-side-combined
    * aggregate.
    */
  private def censusOf(slice: DataFrame): DataFrame =
    slice.filter(col("nxt").isNotNull)
      .groupBy(col("tok").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("n"))

  /** The shared training loop: returns the chosen merges AND the
    * per-doc ENCODED TOKEN COUNTS of the final stream (the only thing
    * the corpus-after-merges is consumed for) — [[bpeTrain]] emits the
    * former, [[bpeApply]] rolls up the latter. Dispatches on corpus
    * size: the plain single-flow form below [[bpeAdaptiveMinDocs]],
    * the doc-array form above it ([[bpeLoopArrays]] — the 100 TB
    * path).
    */
  private[graft] def bpeLoop(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    // parquet-footer row count (metadata only, cached per fixture) — the
    // dispatch bit must not cost a scan-shaped action before round 1
    val totalDocs = Tables.documentsCount(s, dir)
    if (totalDocs >= bpeAdaptiveMinDocs) {
      val (ms, state) = bpeLoopArrays(s, dir)
      val s2 = s
      import s2.implicits._
      // the per-doc counts are doc-count-sized (tiny next to the token
      // arrays), so cut them eagerly and DROP the corpus-sized state
      // cache right here — leaving it to the context cleaner leaks a
      // corpus of cached arrays per invocation, which back-to-back
      // runs turn into eviction/GC churn
      val counts = state.map { case (id, toks) => (id, toks.length.toLong) }
        .toDF("doc_id", "n_toks_enc")
        .transform(graft.Checkpoints.truncate)
      state.unpersist(false)
      (ms, counts)
    } else {
      val (ms, stream) = bpeLoopPlain(s, dir)
      (ms, stream.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks_enc")))
    }
  }

  /** Plain per-round form: one full-stream `lead` window + one full
    * pair census per round — O(corpus) each, no self-join. The chosen
    * pair is ONE row collected driver-side (a model parameter, the
    * [[graft.operators.SimOps]] quantizer-seed stance) and re-embedded
    * as a literal, so the per-round plan is literal-parameterized, not
    * correlated. Round streams pass through
    * [[graft.Checkpoints.truncate]] (reliable-checkpoint upgradable):
    * N rounds of window lineage would otherwise stack into one giant
    * plan, and the eager cut lets the previous round's shuffle files
    * drop. The oracle replays all N rounds as unrolled DuckDB CTEs
    * generated from the same [[bpeTrainMerges]], so round count cannot
    * drift between engines.
    */
  private[graft] def bpeLoopPlain(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var stream = bpeTokenStream(s, dir)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= bpeTrainMerges && !exhausted) {
      val withNext = stream
        .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      val chosen = censusOf(withNext)
        .orderBy(desc("n"), col("a"), col("b")).limit(1)
        .collect()
      if (chosen.isEmpty) exhausted = true // no adjacent pair anywhere
      else {
        val (a, b, n) = (chosen(0).getString(0), chosen(0).getString(1),
          chosen(0).getLong(2))
        merges += ((round, a, b, n))
        val prev = stream
        stream = plainMergePass(withNext, a, b)
          .transform(graft.Checkpoints.truncate)
        // new stream is materialized (eager truncate) — the previous
        // round's blocks are dead; drop them deterministically rather
        // than letting dead round-frames pile up on the context cleaner
        prev.unpersist(false)
      }
      round += 1
    }
    (merges.result(), stream)
  }

  /** DOC-ARRAY training loop — the scale form. Merges never cross
    * document boundaries, so the positional row-per-token frame the
    * plain loop rewrites (N full-stream `lead` windows, N `row_number`
    * renumbers, N full-stream lineage cuts) over-distributes the
    * problem: the only thing a round needs GLOBALLY is the pair census
    * (a ~vocab²-row aggregate) and its 1-row argmax; everything else
    * is per-document. This loop keeps the state as ONE ROW PER DOC —
    * (doc_id, token array), cached — and per round runs:
    *
    *  - the census as a narrow flatMap over the cached arrays into a
    *    map-side-combined hash aggregate (the only shuffle, carrying
    *    distinct-pair partials, not tokens);
    *  - the merge as a narrow per-doc map applying [[bpeMergeOnce]] —
    *    the SAME single-round greedy pass the serving encode replays
    *    ([[bpeEncodeTokens]] is its fold), already proven equivalent
    *    to the windowed [[mergeCore]] mechanics in Round11OpsSpec.
    *
    * No windows, no positional renumbering, no full-stream
    * checkpoints: per round the corpus is scanned ONCE from cache — the
    * census job applies the previous round's pending merge map (filling
    * the new generation's cache as a side effect) and aggregates the
    * pair census in the same pass; the parent generation is dropped
    * only after that job completes — and nothing corpus-sized ever
    * shuffles. Lineage stays shallow (one narrow map per round off a
    * cached parent), so executor loss on a real cluster recomputes a
    * partition from the parquet scan + ≤N local passes —
    * deterministic, no reliable-checkpoint requirement. A round-11
    * incremental-census variant (per-round deltas from affected docs)
    * measured SLOWER than the plain loop at 100× (76.8 s vs 45.4 s):
    * this corpus's small vocabulary makes every winning pair
    * corpus-wide, so doc-level pruning never fires and the delta
    * bookkeeping (per-round candidate count + census checkpoint + a
    * 4-column state cut) was pure overhead. The array form wins in
    * both regimes instead of betting on skew. Bit-identity with the
    * plain loop (merge table AND final stream) is pinned in
    * Round12OpsSpec; oracle parity rides the shared
    * `llm_bpe_train`/`llm_bpe_apply` gates.
    */
  private[graft] def bpeLoopArrays(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)],
         org.apache.spark.sql.Dataset[(Long, Array[String])]) = {
    import org.apache.spark.storage.StorageLevel
    val s2 = s
    import s2.implicits._
    var state = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .as[(Long, Array[String])]
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    // the previous round's state is dropped only AFTER the census job
    // has materialized the current one — so the census collect below is
    // the ONLY per-round action: it applies the pending merge map (one
    // narrow pass off the parent cache, filling the new cache as a side
    // effect) and aggregates the pair census in the same job. The old
    // form paid a separate count() per round purely to force the cache
    // before unpersisting the parent — one full corpus pass per round
    // for zero information.
    var prev: Option[org.apache.spark.sql.Dataset[(Long, Array[String])]] =
      None
    while (round <= bpeTrainMerges && !exhausted) {
      val chosen = state.flatMap { case (_, toks) =>
        if (toks.length < 2) Iterator.empty
        else (0 until toks.length - 1).iterator
          .map(i => (toks(i), toks(i + 1)))
      }.toDF("a", "b")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("a"), col("b")).limit(1)
        .collect()
      // `state` is fully cached now (the census scanned every partition)
      // — its parent's blocks are dead
      prev.foreach(_.unpersist(false))
      prev = None
      if (chosen.isEmpty) exhausted = true // no adjacent pair anywhere
      else {
        val (a, b, n) = (chosen(0).getString(0), chosen(0).getString(1),
          chosen(0).getLong(2))
        merges += ((round, a, b, n))
        prev = Some(state)
        state = state
          .map { case (id, toks) => (id, bpeMergeOnce(toks, a, b)) }
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
      round += 1
    }
    // the FINAL round's merge map was never forced by a following census
    // — force it here (the only per-invocation forced pass left) so its
    // parent's blocks can be dropped and callers get the loop's
    // established contract: a fully-cached state with no live ancestors
    prev.foreach { p =>
      state.count()
      p.unpersist(false)
    }
    (merges.result(), state)
  }

  /** The doc-array state as the positional (doc_id, pos, tok) stream —
    * the representation-equivalence bridge Round12OpsSpec compares
    * against [[bpeLoopPlain]]'s output.
    */
  private[graft] def bpeArrayStream(
      state: org.apache.spark.sql.Dataset[(Long, Array[String])])
      : DataFrame =
    state.toDF("doc_id", "toks")
      .select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("tok"))

  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    // dispatch directly (not through bpeLoop): training consumes only
    // the merge table, so the per-doc count pass the apply path cuts
    // would be a wasted corpus scan here — but the state cache still
    // has to be dropped explicitly
    // parquet-footer row count (metadata only) — the dispatch bit must
    // not cost a full-scan count() action before round 1 (bpeLoop's
    // stance; this entry point was still paying the scan)
    val totalDocs = Tables.documentsCount(s, dir)
    val ms =
      if (totalDocs >= bpeAdaptiveMinDocs) {
        val (m, state) = bpeLoopArrays(s, dir)
        state.unpersist(false)
        m
      } else bpeLoopPlain(s, dir)._1
    val s2 = s
    import s2.implicits._
    ms.toDF("merge_rank", "a", "b", "n")
      .withColumn("merge_token", concat(col("a"), col("b")))
      .select(col("merge_rank"), col("a"), col("b"), col("merge_token"),
        col("n"))
      .orderBy(col("merge_rank"))
  }

  /** BPE ENCODE — the production counterpart of [[bpeTrain]]: the corpus
    * re-tokenized under the trained merges, reported as per-doc token
    * counts before/after and the exact basis-point compression ratio
    * (`enc·10⁴ DIV orig`). This is the tokenizer's serving question —
    * "how many tokens does this doc cost after BPE" — and it rides the
    * SAME loop as training (apply = train minus nothing here, since the
    * merges come from this corpus; a frozen-vocabulary encode against a
    * stored merge table is the [[bpeLoop]] mechanics with the argmax
    * replaced by a rank-ordered broadcast lookup — same plan shape, same
    * cost). Every doc appears: a 1-token doc simply never merges.
    *
    * Scale shape: inherited from [[bpeTrain]] — per-round cost is two
    * cached-array passes (census + narrow merge map) in the doc-array
    * form, one windowed pass in the small-corpus plain form; the final
    * rollup is a per-doc count read straight off the state. The oracle
    * replays the identical unrolled rounds and aggregates stream_N per
    * doc.
    */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val (_, encCounts) = bpeLoop(s, dir)
    encodeRollup(s, dir, encCounts)
  }

  /** The per-doc before/after/compression report both encode paths
    * share — joins the per-doc encoded-token counts (the only thing
    * the final token stream is consumed for) against the originals.
    */
  private def encodeRollup(s: SparkSession, dir: String,
      enc: DataFrame): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks_orig"))
      .join(enc, "doc_id")
      .withColumn("compression_bp",
        expr("n_toks_enc * 10000 DIV n_toks_orig"))
      .orderBy(col("doc_id"))
  }

  /** BPE encode against a STORED ranked merge table — the serving path
    * that makes [[bpeApply]]'s retrain-before-encode unnecessary: a
    * tokenizer trains ONCE ([[bpeTrain]] persists its merges.txt) and
    * every later corpus encodes by replaying the stored merges in rank
    * order. The merge table is a MODEL PARAMETER (vocab-size rows —
    * the [[graft.operators.SimOps]] quantizer-seed stance), so the
    * ranked pairs ride the driver and ship in the task closure.
    *
    * Unlike training — whose per-round argmax is a corpus-wide
    * aggregate by definition — frozen-vocabulary encode needs NO
    * cross-row coordination at all: each document encodes
    * independently, exactly how production tokenizers run. So the
    * plan is ONE narrow map over the documents scan (split → greedy
    * left-to-right replay of the merges in rank order, a local
    * O(merges·doclen) loop — the same mechanics the distributed
    * windows express, proven equivalent in Round11OpsSpec) plus the
    * output sort. Zero shuffles, zero per-round passes, zero
    * checkpoints; embarrassingly parallel at any corpus size. The
    * typed map is deliberate: no built-in composition can express the
    * in-loop token-array rewrite, and a per-doc local loop beats N
    * full-stream window rounds by construction.
    */
  def bpeApplyFromStore(s: SparkSession, dir: String,
      mergeTable: DataFrame): DataFrame =
    bpeEncodeReport(Tables.documents(s, dir), rankedMerges(mergeTable))
      .orderBy(col("doc_id"))

  /** The stored ranked merge table materialized as the driver-side
    * model parameter the encode closures ship (vocab-size rows).
    */
  private[graft] def rankedMerges(
      mergeTable: DataFrame): Array[(String, String)] =
    mergeTable.select(col("merge_rank"), col("a"), col("b"))
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getString(1), r.getString(2)))

  /** ONE round of greedy left-to-right merging of (a, b) over one
    * doc's token array — the local core the doc-array TRAINING loop
    * applies per round and the serving replay folds per ranked merge.
    * In `a a a` with pair (a, a), positions 1–2 merge and 2–3 cannot —
    * its left token was consumed. Same semantics as the windowed
    * [[mergeCore]] (equivalence spec'd in Round11OpsSpec).
    */
  private[graft] def bpeMergeOnce(toks: Array[String],
      a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Greedy left-to-right replay of the ranked merges over one doc's
    * token array — the per-row core both the batch serving path and
    * the streaming encode share: a fold of [[bpeMergeOnce]] in rank
    * order.
    */
  private[graft] def bpeEncodeTokens(t0: Array[String],
      ranked: Array[(String, String)]): Array[String] =
    ranked.foldLeft(t0) { case (toks, (a, b)) => bpeMergeOnce(toks, a, b) }

  /** The per-doc before/after/compression frame over any (doc_id,
    * text) source — a pure stateless projection, so it runs unchanged
    * on a STREAM (graft.streaming.StreamingBpeEncode wires exactly
    * this over readStream).
    */
  private[graft] def bpeEncodeReport(docs: DataFrame,
      ranked: Array[(String, String)]): DataFrame = {
    val s2 = docs.sparkSession
    import s2.implicits._
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, t0) =>
        val orig = t0.length.toLong
        val enc = bpeEncodeTokens(t0.toArray, ranked).length.toLong
        (id, orig, enc, enc * 10000L / orig)
      }
      .toDF("doc_id", "n_toks_orig", "n_toks_enc", "compression_bp")
  }

  /** Per-fixture persisted [[bpeTrain]] merge table backing the
    * `llm_bpe_apply_served` query — built once per fixture FINGERPRINT
    * (the shared [[ArtifactStore]] cache: regenerating the fixture
    * in-place invalidates instead of serving stale merges, and the temp
    * parquet is swept on exit), read as parquet thereafter, so the
    * bench measures the true serving cost: encode-from-artifact, never
    * retrain.
    */
  private def mergeStore(s: SparkSession, dir: String): DataFrame = {
    val root = ArtifactStore.cached("bpe_merges", dir) { out =>
      bpeTrain(s, dir).write.mode("overwrite")
        .parquet(s"$out/merges.parquet")
    }
    s.read.parquet(s"$root/merges.parquet")
  }

  /** [[bpeApplyFromStore]] over the persisted [[mergeStore]] — same
    * output as [[bpeApply]] (shared oracle), production serving cost.
    */
  def bpeApplyServed(s: SparkSession, dir: String): DataFrame =
    bpeApplyFromStore(s, dir, mergeStore(s, dir))

  /** [[bpeTrain]]'s DuckDB twin: all [[bpeTrainMerges]] rounds unrolled
    * as generated CTE blocks (one wn/top/tagged/keep/mg/stream chain per
    * round), so the oracle replays the full training loop — chosen pair,
    * greedy merge, dense renumber — without any engine-side state.
    */
  private val bpeTrainOracleSql: String = {
    def roundSql(i: Int): String = {
      val p = s"_$i"
      val prev = s"stream_${i - 1}"
      s"""wn$p AS (
         |  SELECT doc_id, pos, tok,
         |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM $prev),
         |top$p AS (
         |  SELECT tok AS a, nxt AS b, CAST(count(*) AS BIGINT) AS n
         |  FROM wn$p WHERE nxt IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
         |tagged$p AS (
         |  SELECT w.doc_id, w.pos, w.tok, w.nxt, t.a, t.b,
         |         (w.tok = t.a AND w.nxt = t.b) AS m
         |  FROM wn$p w CROSS JOIN top$p t),
         |keep$p AS (
         |  SELECT doc_id, pos, TRUE AS kept FROM (
         |    SELECT doc_id, pos,
         |           row_number() OVER (PARTITION BY doc_id, grp
         |                              ORDER BY pos) AS rn
         |    FROM (SELECT doc_id, pos,
         |                 pos - row_number() OVER
         |                   (PARTITION BY doc_id ORDER BY pos) AS grp
         |          FROM tagged$p WHERE m))
         |  WHERE rn % 2 = 1),
         |mg$p AS (
         |  SELECT t.doc_id, t.pos,
         |         CASE WHEN coalesce(k.kept, FALSE) THEN t.a || t.b
         |              ELSE t.tok END AS tok,
         |         lag(coalesce(k.kept, FALSE))
         |           OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS kprev
         |  FROM tagged$p t LEFT JOIN keep$p k USING (doc_id, pos)),
         |stream_$i AS (
         |  SELECT doc_id,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |           AS pos,
         |         tok
         |  FROM mg$p WHERE NOT coalesce(kprev, FALSE))"""
    }
    val rounds = (1 to bpeTrainMerges).map(roundSql).mkString(",\n")
    val arms = (1 to bpeTrainMerges).map(i =>
      s"SELECT $i AS merge_rank, a, b, a || b AS merge_token, n FROM top_$i")
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |stream_0 AS (
       |  SELECT doc_id,
       |         CAST(unnest(range(1, len(ts) + 1)) AS BIGINT) AS pos,
       |         unnest(ts) AS tok
       |  FROM toks),
       |$rounds
       |$arms
       |ORDER BY merge_rank""".stripMargin
  }

  /** [[bpeApply]]'s DuckDB twin: the SAME unrolled training rounds
    * (regenerated from the same roundSql shape), aggregated per doc from
    * the final stream instead of union-ing the chosen pairs.
    */
  private val bpeApplyOracleSql: String = {
    val trainSql = bpeTrainOracleSql
    // reuse the generated WITH...rounds prefix verbatim: cut at the
    // train-specific final-select arms ("SELECT 1 AS merge_rank...")
    val cut = trainSql.indexOf("SELECT 1 AS merge_rank")
    require(cut > 0, "bpeTrainOracleSql shape changed")
    val prefix = trainSql.substring(0, cut).reverse
      .dropWhile(c => c == '\n' || c == ' ').reverse
    s"""$prefix,
       |orig AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_toks_orig FROM toks),
       |enc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks_enc
       |  FROM stream_$bpeTrainMerges GROUP BY 1)
       |SELECT o.doc_id, o.n_toks_orig, e.n_toks_enc,
       |       CAST(e.n_toks_enc * 10000 // o.n_toks_orig AS BIGINT)
       |         AS compression_bp
       |FROM orig o JOIN enc e USING (doc_id)
       |ORDER BY o.doc_id""".stripMargin
  }

  /** The fixed retrieval query [[bm25Topk]] scores — config, like the RFM
    * thresholds: mixed-rarity terms from the corpus domain. */
  private val bm25QueryTerms = Seq("dup", "join", "vector", "scan")

  /** BM25 top-k retrieval over the corpus for a fixed query-term set —
    * the standard probabilistic ranking ([[tfidf]]'s production
    * successor; Robertson et al., TREC-3), with the Lucene idf form
    * `ln(1 + (N−df+0.5)/(df+0.5))` (always positive, so integer
    * truncation never crosses zero) and k1 = 1.2, b = 0.75.
    *
    * Parity design — FIXED-POINT end to end (the [[perplexity]]
    * micro-nat stance): avgdl is quantized ONCE to centi-tokens
    * (`total·100 DIV n_docs`), each term's idf ONCE to micro-nats, and
    * the length-normalized tf factor is an EXACT integer rational —
    * `22000·tf_c·avgdl_c·10⁵ DIV (10000·avgdl_c·tf_c + 3000·avgdl_c +
    * 900000·len)` (k1, b, and k1+1 are exact in hundredths, so
    * multiplying the BM25 denominator through by 10⁴·avgdl_c clears every
    * fraction). Overflow is bounded by saturation, not hope: tf is
    * capped at 4000 (BM25's tf factor is within 0.1 % of its (k1+1)
    * asymptote there — the cap is the standard saturation made explicit)
    * and avgdl_c at 10⁶ (average doc ≤ 10,000 tokens — headroom for
    * long-document corpora; only a corpus AVERAGING novel-length docs
    * gets clamped length normalization), so the numerator is
    * ≤ 22000·4000·10⁶·10⁵ = 8.8·10¹⁸ < 2⁶³ even on a pathological
    * corpus where one document repeats a query term millions of times.
    * Both caps are applied identically in the DuckDB twin.
    * Per-(doc,term) contributions truncate identically in Spark `DIV`
    * and DuckDB `//` on the all-positive operands, and the per-doc score
    * is an exact integer sum no accumulation order can perturb. The only
    * doubles are the ≤|query| `ln` calls.
    *
    * Scale shape: ONE explode + one map-side-combined per-doc aggregate
    * computes length and every query-term tf together (the query is a
    * fixed tiny set, so tf columns stack narrowly afterwards — no second
    * corpus pass, no doc_id join); df and corpus stats ride frames
    * bounded by |query| and 1; the final top-20 is
    * `TakeOrderedAndProject` (bounded heap per partition, never a global
    * sort). At 100 TB this is one scan + one shuffle on doc_id.
    */
  def bm25Topk(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val aggs = count(lit(1)).as("len") +: bm25QueryTerms.map(t =>
      sum(when(col("token") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    // pinned (doc-count-sized, 6 narrow columns): the stacked tf frame
    // and the corpus-stats aggregate both read it — unpinned, each
    // reference re-ran the corpus explode + per-doc aggregate
    val perDoc = terms.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .transform(graft.Checkpoints.truncate)
    val stacked = perDoc.select(col("doc_id"), col("len"),
      expr(s"stack(${bm25QueryTerms.size}, " +
        bm25QueryTerms.map(t => s"'$t', tf_$t").mkString(", ") +
        ") AS (token, tf)"))
      .filter(col("tf") > 0)
    val corpus = perDoc.agg(count(lit(1)).as("n_docs"),
      sum(col("len")).as("total_toks"))
      .withColumn("avgdl_c",
        expr("least(total_toks * 100 DIV n_docs, 1000000L)"))
    val idf = stacked.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(corpus))
      .withColumn("idf_micro", round(
        log(lit(1.0) +
          (col("n_docs").cast("double") - col("df") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) * lit(1000000.0), 0)
        .cast("long"))
      .select(col("token"), col("idf_micro"))
    stacked
      .join(broadcast(idf), "token")
      .crossJoin(broadcast(corpus))
      .withColumn("tf_c", expr("least(tf, 4000L)"))
      .withColumn("tff_c", expr(
        "22000 * tf_c * avgdl_c * 100000 DIV " +
          "(10000 * avgdl_c * tf_c + 3000 * avgdl_c + 900000 * len)"))
      .withColumn("contrib_micro",
        expr("idf_micro * tff_c DIV 100000"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_micro")).as("score_micro"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(20)
  }

  /** Clipped ROUGE-2 overlap between prefix-blocked document pairs — the
    * eval-side n-gram metric (summarization/decontamination audits run
    * exactly this arithmetic between candidate and reference texts).
    * Blocking: docs sharing their first-5-token prefix pair up (the
    * template/boilerplate signal — same opener, how much of the body is
    * shared?), so the quadratic step is per-block like join_fuzzy_name's
    * levenshtein blocking, never corpus×corpus. Overlap is the standard
    * CLIPPED bigram count Σ_g min(c_a(g), c_b(g)) — a multiset
    * intersection, which is why the per-doc bigram MULTISET (with
    * counts) joins on the gram string; F1 collapses to
    * 2·o·10⁴ DIV (n_a + n_b) in exact basis points because P and R share
    * the overlap numerator.
    *
    * Scale shape: one corpus pass builds (blk, n2) per doc; pairs form
    * within blocks only; bigram multisets are computed ONLY for docs in
    * some pair (the pairStats semi-join-reduction pattern) and join on
    * (doc, gram) — fan-out bounded by per-doc length, never quadratic in
    * the corpus.
    */
  def rougeOverlap(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 5)
      .withColumn("blk", concat_ws(" ", slice(col("toks"), 1, 5)))
      .withColumn("n2", (size(col("toks")) - 1).cast("long"))
    // the per-doc blocking metadata is pinned NARROW (doc_id, blk, n2 —
    // no token arrays) so the block self-join's two sides read one
    // materialization instead of each re-running the tokenize pass
    val bmeta = base.select(col("doc_id"), col("blk"), col("n2"))
      .transform(graft.Checkpoints.truncate)
    // pinned: referenced by the candidate-id pass, the overlap join and
    // the final left join
    val pairs = bmeta
      .select(col("blk"), col("doc_id").as("doc_a"), col("n2").as("n2_a"))
      .join(bmeta.select(col("blk"), col("doc_id").as("doc_b"),
        col("n2").as("n2_b")), "blk")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n2_a"), col("n2_b"))
      .transform(graft.Checkpoints.truncate)
    // candidate ids in ONE pass over the pinned pair list
    val candIds = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // pinned: the bigram multisets of the candidate sliver feed both
    // sides of the overlap join
    val grams = base.join(candIds, "doc_id")
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i + 1]))")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .transform(graft.Checkpoints.truncate)
    val ov = pairs
      .join(grams.select(col("doc_id").as("doc_a"), col("g"),
        col("c").as("ca")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b2"), col("g").as("gb"),
        col("c").as("cb")),
        col("doc_b") === col("doc_b2") && col("g") === col("gb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("ca"), col("cb"))).as("o"))
    pairs.join(ov, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("n2_a"), col("n2_b"),
        coalesce(col("o"), lit(0L)).as("overlap2"),
        expr("2 * coalesce(o, 0L) * 10000 DIV (n2_a + n2_b)").as("f1_bp"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Zipf exponent of the corpus token-frequency distribution — the
    * one-number health check of a training corpus' lexical statistics: a
    * natural-language corpus fits ln f ≈ c − s·ln r with s ≈ 1; boilerplate
    * floods or template spam push s far from 1, and the fit R² collapsing
    * says the distribution isn't Zipfian at all (synthetic/garbled text).
    * OLS over the top-200 ranks of the SAME census frame as
    * [[vocabCensus]]: each ln(rank)/ln(freq) — logs of small INTEGERS —
    * is quantized ONCE to integer micro-nats (the [[charEntropy]]
    * precedent), every OLS moment is then an exact BIGINT sum, and
    * slope/R² divide those integers in DOUBLE at the edge, so both
    * engines emit identical doubles.
    *
    * Scale shape: one map-side-combined token census is the only
    * fact-volume pass (identical to vocab_census); the top-200 lands via
    * TakeOrderedAndProject and the 200-row OLS aggregate is driver-free.
    */
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("token")).limit(200)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("token"))).cast("long"))
      .select(
        expr("CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("lr"),
        expr("CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("lf"))
      // moments in DECIMAL(38,0): lf grows with ln(corpus) and the
      // n·Σlf² cross term would graze BIGINT's 9.2e18 ceiling on a
      // large corpus — 38-digit decimals (HUGEINT on the DuckDB side)
      // keep every moment exact at any scale
      .agg(count(lit(1)).as("n_ranks"),
        sum(col("lr")).as("slr"), sum(col("lf")).as("slf"),
        sum(expr("CAST(lr * lf AS DECIMAL(38,0))")).as("slrlf"),
        sum(expr("CAST(lr * lr AS DECIMAL(38,0))")).as("slrlr"),
        sum(expr("CAST(lf * lf AS DECIMAL(38,0))")).as("slflf"))
      .select(col("n_ranks"),
        expr(
          """-(CAST(n_ranks * slrlf - CAST(slr AS DECIMAL(38,0)) * slf
            |       AS DOUBLE) /
            |  CAST(n_ranks * slrlr - CAST(slr AS DECIMAL(38,0)) * slr
            |       AS DOUBLE))""".stripMargin).as("zipf_slope"),
        expr(
          """CAST(n_ranks * slrlf - CAST(slr AS DECIMAL(38,0)) * slf
            |     AS DOUBLE) *
            |CAST(n_ranks * slrlf - CAST(slr AS DECIMAL(38,0)) * slf
            |     AS DOUBLE) /
            | (CAST(n_ranks * slrlr - CAST(slr AS DECIMAL(38,0)) * slr
            |       AS DOUBLE) *
            |  CAST(n_ranks * slflf - CAST(slf AS DECIMAL(38,0)) * slf
            |       AS DOUBLE))""".stripMargin).as("fit_r2"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_zipf_slope" -> zipfSlope,
    "llm_bpe_apply" -> bpeApply,
    "llm_bpe_apply_served" -> bpeApplyServed,
    "llm_rouge_overlap" -> rougeOverlap,
    "llm_bm25_topk" -> bm25Topk,
    "llm_bpe_merge_step" -> bpeMergeStep,
    "llm_bpe_train" -> bpeTrain,
    "llm_char_entropy" -> charEntropy,
    "llm_sample_temperature" -> sampleTemperature,
    "llm_oov_rate" -> oovRate,
    "llm_perplexity" -> perplexity,
    "llm_perplexity_served" -> perplexityServed,
    "llm_perplexity_kn" -> perplexityKn,
    "llm_perplexity_kn_served" -> perplexityKnServed,
    "llm_bigram_lm" -> bigramLm,
    "llm_kneser_ney" -> kneserNey,
    "llm_bpe_pairs" -> bpePairs,
    "llm_vocab_census" -> vocabCensus,
    "llm_text_stats" -> textStats,
    "llm_quality_score" -> qualityScore,
    "llm_token_count" -> tokenCount,
    "llm_lang_id" -> langId,
    "llm_sample_stratified" -> sampleStratified,
    "llm_mix_weighted" -> mixWeighted,
    // the xxhash64 [[fingerprint]] fast path is a library function
    // (unit invariants in LlmOpsSpec); the oracle-gated query surface
    // for the fingerprint operator is the portable twin
    "llm_fingerprint_portable" -> fingerprintPortable,
    "llm_tfidf" -> tfidf
  )

  /** DuckDB list literal of [[stopwords]], shared with the cluster
    * keep-policy oracle in [[DedupOps]]. */
  private[operators] val stopList =
    stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB CTE body (names qt/qs) computing the per-doc quality
    * components from `documents` — the ONE definition of the signal
    * math, shared by the llm_quality_score oracle and the cluster
    * keep-policy oracle in [[DedupOps]] so the formula cannot drift.
    */
  private[operators] val qualityComponentsSql: String =
    s"""qt AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks
      |  FROM documents),
      |qs AS (
      |  SELECT doc_id,
      |         CAST(len(toks) AS INT) AS n_tokens,
      |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      |           AS uniq_ratio,
      |         CAST(len(list_filter(toks,
      |              x -> list_contains($stopList, x))) AS DOUBLE)
      |           / len(toks) AS stop_ratio,
      |         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks)
      |           AS avg_tok_len
      |  FROM qt)""".stripMargin

  /** The linear quality combiner over the [[qualityComponentsSql]]
    * column names — shared for the same no-drift reason. */
  private[operators] val qualityExprSql: String =
    "uniq_ratio * 0.5 + stop_ratio * 0.3 + " +
      "least(avg_tok_len / 10.0, 1.0) * 0.2"

  /** Deterministic md5 hash bucket in [0, n) — the reproducible-sampling
    * portability contract ([[sampleStratified]]) also used by
    * [[DedupOps.trainEvalSplit]]'s leakage-safe unit assignment.
    */
  private[operators] def md5Bucket(c: Column, n: Int): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
      .cast("long") % n

  /** DuckDB twin of [[md5Bucket]]. */
  private[operators] def md5BucketSql(x: String, n: Int): String =
    s"CAST(('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 8))" +
      s"::UBIGINT % $n AS BIGINT)"

  /** [[bm25Topk]]'s DuckDB twin, generated from the same
    * [[bm25QueryTerms]] so the query set cannot drift between engines.
    */
  private val bm25OracleSql: String = {
    val tfCols = bm25QueryTerms.map(t =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS BIGINT) " +
        s"AS tf_$t").mkString(",\n         ")
    val stackArms = bm25QueryTerms.map(t =>
      s"SELECT doc_id, len, '$t' AS token, tf_$t AS tf FROM perdoc")
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |toks_f AS (SELECT * FROM toks WHERE length(token) > 0),
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS len,
       |         $tfCols
       |  FROM toks_f GROUP BY 1),
       |corpus AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len) AS BIGINT) AS total_toks,
       |         least(CAST(sum(len) AS BIGINT) * 100 //
       |           CAST(count(*) AS BIGINT), 1000000) AS avgdl_c
       |  FROM perdoc),
       |stacked AS (
       |  $stackArms),
       |nz AS (SELECT * FROM stacked WHERE tf > 0),
       |idf AS (
       |  SELECT token,
       |         CAST(round(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) /
       |           (CAST(df AS DOUBLE) + 0.5)) * 1000000) AS BIGINT)
       |           AS idf_micro
       |  FROM (SELECT token, CAST(count(*) AS BIGINT) AS df
       |        FROM nz GROUP BY 1), corpus),
       |sc AS (
       |  SELECT doc_id,
       |         idf_micro * (22000 * least(tf, 4000) * avgdl_c * 100000 //
       |           (10000 * avgdl_c * least(tf, 4000) + 3000 * avgdl_c +
       |            900000 * len))
       |           // 100000 AS contrib
       |  FROM nz JOIN idf USING (token), corpus)
       |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_micro,
       |       CAST(count(*) AS BIGINT) AS n_terms
       |FROM sc GROUP BY 1
       |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin
  }

  // lazy: oracleBase is declared below; the _served twin consumes the
  // persisted lmStore but emits the same rows by construction (the
  // stored lq IS the recompute's integer) — shared oracle.
  lazy val oracle: Map[String, String] =
    oracleBase +
      ("llm_perplexity_served" -> oracleBase("llm_perplexity")) +
      // the served twin's stored longs ARE the recompute's — same oracle
      ("llm_perplexity_kn_served" -> oracleBase("llm_perplexity_kn"))

  private val oracleBase: Map[String, String] = Map(
    // Independent OLS replay: same micro-nat quantized logs, moments in
    // HUGEINT (the DuckDB twin of Spark's DECIMAL(38,0) sums), identical
    // edge-division formulas.
    "llm_zipf_slope" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (
        |  SELECT token, count(*) AS n FROM toks
        |  WHERE len(token) > 0 GROUP BY token),
        |top AS (
        |  SELECT token, n,
        |         row_number() OVER (ORDER BY n DESC, token) AS rank
        |  FROM (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 200)),
        |q AS (
        |  SELECT
        |    CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS lr,
        |    CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS lf
        |  FROM top),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_ranks,
        |         CAST(sum(lr) AS HUGEINT) AS slr,
        |         CAST(sum(lf) AS HUGEINT) AS slf,
        |         sum(CAST(lr AS HUGEINT) * lf) AS slrlf,
        |         sum(CAST(lr AS HUGEINT) * lr) AS slrlr,
        |         sum(CAST(lf AS HUGEINT) * lf) AS slflf
        |  FROM q)
        |SELECT n_ranks,
        |       -(CAST(n_ranks * slrlf - slr * slf AS DOUBLE) /
        |         CAST(n_ranks * slrlr - slr * slr AS DOUBLE)) AS zipf_slope,
        |       CAST(n_ranks * slrlf - slr * slf AS DOUBLE) *
        |       CAST(n_ranks * slrlf - slr * slf AS DOUBLE) /
        |        (CAST(n_ranks * slrlr - slr * slr AS DOUBLE) *
        |         CAST(n_ranks * slflf - slf * slf AS DOUBLE)) AS fit_r2
        |FROM m""".stripMargin,
    "llm_bpe_apply" -> bpeApplyOracleSql,
    // the _served form consumes the persisted merge table but encodes
    // the same corpus under the same merges — shared oracle
    "llm_bpe_apply_served" -> bpeApplyOracleSql,
    "llm_rouge_overlap" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, toks, array_to_string(toks[1:5], ' ') AS blk,
        |         CAST(len(toks) - 1 AS BIGINT) AS n2
        |  FROM docs WHERE len(toks) >= 5),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.n2 AS n2_a, b.n2 AS n2_b
        |  FROM base a JOIN base b ON a.blk = b.blk AND a.doc_id < b.doc_id),
        |cand AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_a AS doc_id FROM pairs
        |    UNION ALL SELECT doc_b FROM pairs)),
        |zipped AS (
        |  SELECT b.doc_id,
        |         unnest(list_zip(b.toks[1:len(b.toks) - 1],
        |                         b.toks[2:len(b.toks)])) AS z
        |  FROM base b JOIN cand USING (doc_id)),
        |grams AS (
        |  SELECT doc_id, z[1] || ' ' || z[2] AS g,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM zipped GROUP BY 1, 2),
        |ov AS (
        |  SELECT p.doc_a, p.doc_b,
        |         CAST(sum(least(ga.c, gb.c)) AS BIGINT) AS o
        |  FROM pairs p
        |  JOIN grams ga ON ga.doc_id = p.doc_a
        |  JOIN grams gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
        |  GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b, p.n2_a, p.n2_b,
        |       COALESCE(ov.o, 0) AS overlap2,
        |       CAST(2 * COALESCE(ov.o, 0) * 10000 // (p.n2_a + p.n2_b)
        |            AS BIGINT) AS f1_bp
        |FROM pairs p LEFT JOIN ov
        |  ON ov.doc_a = p.doc_a AND ov.doc_b = p.doc_b
        |ORDER BY p.doc_a, p.doc_b""".stripMargin,
    "llm_bm25_topk" -> bm25OracleSql,
    "llm_bpe_train" -> bpeTrainOracleSql,
    "llm_bpe_merge_step" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tp AS (
        |  SELECT doc_id, unnest(ts) AS tok,
        |         CAST(unnest(range(1, len(ts) + 1)) AS BIGINT) AS pos
        |  FROM toks),
        |wn AS (
        |  SELECT doc_id, pos, tok,
        |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |  FROM tp),
        |top AS (
        |  SELECT tok AS a, nxt AS b FROM wn WHERE nxt IS NOT NULL
        |  GROUP BY 1, 2 ORDER BY count(*) DESC, a, b LIMIT 1),
        |tagged AS (
        |  SELECT wn.*, top.a, top.b,
        |         (wn.tok = top.a AND wn.nxt = top.b) AS m
        |  FROM wn CROSS JOIN top),
        |mt AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS grp
        |  FROM tagged WHERE m),
        |kept AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |           row_number() OVER (PARTITION BY doc_id, grp ORDER BY pos)
        |             AS rn
        |    FROM mt) WHERE rn % 2 = 1),
        |lagged AS (
        |  SELECT t.doc_id, t.pos, t.tok, t.a, t.b,
        |         k.pos IS NOT NULL AS kept,
        |         lag(k.pos IS NOT NULL) OVER
        |           (PARTITION BY t.doc_id ORDER BY t.pos) AS kprev
        |  FROM tagged t LEFT JOIN kept k
        |    ON k.doc_id = t.doc_id AND k.pos = t.pos),
        |m2 AS (
        |  SELECT doc_id, pos, a, b,
        |         CASE WHEN kept THEN a || b ELSE tok END AS otok
        |  FROM lagged WHERE NOT COALESCE(kprev, false)),
        |p2 AS (
        |  SELECT a, b, otok AS pair_left,
        |         lead(otok) OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS pair_right
        |  FROM m2)
        |SELECT a || b AS merge_token, pair_left, pair_right,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM p2 WHERE pair_right IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, pair_left, pair_right LIMIT 10""".stripMargin,
    "llm_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        |         unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, len, ch, count(*) AS cnt FROM c GROUP BY 1, 2, 3),
        |q AS (
        |  SELECT doc_id, len, cnt,
        |         CAST(round(ln(CAST(len AS DOUBLE) / CAST(cnt AS DOUBLE))
        |                    * 1000000) AS BIGINT) AS lq
        |  FROM g),
        |h AS (
        |  SELECT doc_id, len,
        |         CAST(sum(cnt * lq) AS BIGINT) AS hsum,
        |         count(*) AS n_distinct_chars
        |  FROM q GROUP BY 1, 2)
        |SELECT doc_id, len, n_distinct_chars,
        |       CAST(hsum AS DOUBLE) / (CAST(len AS DOUBLE) * 1000000.0)
        |         AS entropy_nats,
        |       hsum < 2000000 * len AS low_entropy
        |FROM h ORDER BY doc_id""".stripMargin,
    "llm_sample_temperature" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
        |t AS (
        |  SELECT lang, n_lang,
        |         CAST(round(sqrt(CAST(n_lang AS DOUBLE) /
        |           CAST((SELECT CAST(sum(n_lang) AS BIGINT) FROM c)
        |                AS DOUBLE)) * 1000000) AS BIGINT) AS wq
        |  FROM c),
        |tg AS (
        |  SELECT lang,
        |         CAST(200 * wq //
        |           (SELECT CAST(sum(wq) AS BIGINT) FROM t) AS BIGINT)
        |           AS target
        |  FROM t),
        |r AS (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (
        |           PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |           AS BIGINT) AS sample_rank
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.sample_rank, tg.target
        |FROM r JOIN tg ON r.lang = tg.lang
        |WHERE r.sample_rank <= tg.target
        |ORDER BY r.doc_id""".stripMargin,
    "llm_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, t AS token
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |  WHERE len(t) > 0),
        |v AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS n FROM tok GROUP BY 1)
        |  ORDER BY n DESC, token LIMIT 20)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_oov,
        |       CAST(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
        |                 AS BIGINT) * 10000 // count(*) AS DOUBLE)
        |         / 10000.0 AS oov_rate
        |FROM tok LEFT JOIN v ON tok.token = v.token
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pz AS (
        |  SELECT doc_id, unnest(list_zip(toks[1:length(toks) - 1],
        |                                 toks[2:length(toks)])) AS pr
        |  FROM t),
        |p AS (SELECT doc_id, pr[1] AS a, pr[2] AS b FROM pz),
        |lm AS (SELECT a, b, count(*) AS n_ab FROM p GROUP BY 1, 2),
        |lq AS (
        |  SELECT a, b,
        |         CAST(round(ln(CAST(n_ab AS DOUBLE) /
        |              CAST(sum(n_ab) OVER (PARTITION BY a) AS DOUBLE))
        |              * 1000000.0) AS BIGINT) AS lq
        |  FROM lm),
        |dc AS (SELECT doc_id, a, b, count(*) AS c FROM p GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT doc_id,
        |         CAST(sum(c) AS BIGINT) AS n_bigrams,
        |         CAST(sum(c * lq) AS BIGINT) AS sum_lq
        |  FROM dc JOIN lq USING (a, b) GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |       CAST((-sum_lq) // n_bigrams AS DOUBLE) / 1000000.0
        |         AS avg_nll,
        |       -sum_lq > 3700000 * n_bigrams AS flagged
        |FROM j ORDER BY doc_id""".stripMargin,
    "llm_bigram_lm" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents),
        |pz AS (
        |  SELECT unnest(list_zip(toks[1:length(toks) - 1],
        |                         toks[2:length(toks)])) AS pr
        |  FROM t),
        |c AS (
        |  SELECT pr[1] AS a, pr[2] AS b, count(*) AS n_ab
        |  FROM pz GROUP BY 1, 2),
        |u AS (
        |  SELECT *, CAST(sum(n_ab) OVER (PARTITION BY a) AS BIGINT) AS n_a
        |  FROM c)
        |SELECT a, b, n_ab, n_a,
        |       CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS p
        |FROM u ORDER BY n_ab DESC, a, b LIMIT 30""".stripMargin,
    // Held-out KN perplexity: train census on the doc_id < 4/5 slice,
    // score the rest; the three backoff branches and the 1e-9 OOV floor
    // are written in the Spark when-chain's exact order and operator
    // associativity so every double agrees before quantization.
    "llm_perplexity_kn" ->
      """WITH k AS (SELECT max(doc_id) * 4 // 5 AS kv FROM documents),
        |t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pz AS (
        |  SELECT doc_id, unnest(list_zip(toks[1:length(toks) - 1],
        |                                 toks[2:length(toks)])) AS pr
        |  FROM t),
        |p AS (SELECT doc_id, pr[1] AS a, pr[2] AS b FROM pz),
        |c AS (SELECT a, b, count(*) AS n_ab
        |      FROM p, k WHERE doc_id < kv GROUP BY 1, 2),
        |ast AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a,
        |               CAST(count(*) AS BIGINT) AS n1p_a
        |        FROM c GROUP BY 1),
        |bst AS (SELECT b, CAST(count(*) AS BIGINT) AS n1p_b
        |        FROM c GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c),
        |dc AS (SELECT doc_id, a, b, count(*) AS c
        |       FROM p, k WHERE doc_id >= kv GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT dc.doc_id, dc.c, c.n_ab, ast.n_a, ast.n1p_a,
        |         bst.n1p_b, tot.n_types
        |  FROM dc LEFT JOIN c USING (a, b)
        |  LEFT JOIN ast USING (a) LEFT JOIN bst USING (b), tot),
        |lqj AS (
        |  SELECT doc_id, c, n_ab,
        |    CAST(round(ln(greatest(
        |      CASE
        |        WHEN n_a IS NOT NULL AND n_ab IS NOT NULL THEN
        |          greatest(CAST(n_ab AS DOUBLE) - 0.75, 0.0)
        |            / CAST(n_a AS DOUBLE)
        |          + 0.75 * CAST(n1p_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |            * (coalesce(CAST(n1p_b AS DOUBLE), 0.0)
        |               / CAST(n_types AS DOUBLE))
        |        WHEN n_a IS NOT NULL THEN
        |          0.75 * CAST(n1p_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |            * (coalesce(CAST(n1p_b AS DOUBLE), 0.0)
        |               / CAST(n_types AS DOUBLE))
        |        ELSE coalesce(CAST(n1p_b AS DOUBLE), 0.0)
        |             / CAST(n_types AS DOUBLE)
        |      END, 1e-9)) * 1000000.0) AS BIGINT) AS lq
        |  FROM j),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |         CAST(sum(c * lq) AS BIGINT) AS sum_lq,
        |         CAST(sum(CASE WHEN n_ab IS NULL THEN c ELSE 0 END)
        |              AS BIGINT) AS n_unseen
        |  FROM lqj GROUP BY 1)
        |SELECT doc_id, n_bigrams, n_unseen,
        |       CAST((-sum_lq) // n_bigrams AS DOUBLE) / 1000000.0
        |         AS avg_nll
        |FROM agg ORDER BY doc_id""".stripMargin,
    // Interpolated Kneser–Ney replayed on the same pair census: the
    // discounted term, the interpolation weight, and the continuation
    // probability are each written in the exact operator order the
    // Spark expression uses (left-assoc * and /), so the doubles agree
    // bit-for-bit before the micro-unit quantization.
    "llm_kneser_ney" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents),
        |pz AS (
        |  SELECT unnest(list_zip(toks[1:length(toks) - 1],
        |                         toks[2:length(toks)])) AS pr
        |  FROM t),
        |c AS (
        |  SELECT pr[1] AS a, pr[2] AS b, count(*) AS n_ab
        |  FROM pz GROUP BY 1, 2),
        |u AS (
        |  SELECT *,
        |         CAST(sum(n_ab) OVER (PARTITION BY a) AS BIGINT) AS n_a,
        |         CAST(count(*) OVER (PARTITION BY a) AS BIGINT) AS n1p_a
        |  FROM c),
        |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS n1p_b
        |       FROM c GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c)
        |SELECT a, b, n_ab,
        |       CAST(round((greatest(CAST(n_ab AS DOUBLE) - 0.75, 0.0)
        |                     / CAST(n_a AS DOUBLE)
        |                   + 0.75 * CAST(n1p_a AS DOUBLE)
        |                     / CAST(n_a AS DOUBLE)
        |                     * (CAST(n1p_b AS DOUBLE)
        |                        / CAST(n_types AS DOUBLE)))
        |                  * 1000000.0) AS BIGINT) AS p_kn_micro
        |FROM u JOIN cb USING (b), tot
        |ORDER BY n_ab DESC, a, b LIMIT 30""".stripMargin,
    "llm_bpe_pairs" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT unnest(list_zip(toks[1:length(toks) - 1],
        |                         toks[2:length(toks)])) AS pr
        |  FROM t)
        |SELECT pr[1] AS a, pr[2] AS b, count(*) AS n
        |FROM p GROUP BY a, b
        |ORDER BY n DESC, a, b LIMIT 50""".stripMargin,
    "llm_vocab_census" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (
        |  SELECT token, count(*) AS n FROM toks
        |  WHERE len(token) > 0 GROUP BY token),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
        |top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100)
        |SELECT CAST(row_number() OVER w AS BIGINT) AS rank, token, n,
        |       CAST(SUM(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND
        |                         CURRENT ROW) AS DOUBLE) / total AS cum_share
        |FROM top, tot
        |WINDOW w AS (ORDER BY n DESC, token)
        |ORDER BY rank""".stripMargin,
    // The portable fingerprint replayed value-for-value: md5-prefix token
    // hashes converted to SIGNED 64-bit, floorMod via ((h % P) + P) % P,
    // the Rabin-Karp fold via list_reduce seeded with 0, and the 8-token
    // window minimum over the same signed conversions (whole text when
    // the doc is shorter than a window).
    "llm_fingerprint_portable" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok AS (
        |  SELECT doc_id, i, toks[i] AS s
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
        |        FROM t)),
        |tm AS (
        |  SELECT doc_id, i,
        |         ((CAST(CASE WHEN u >= 9223372036854775808::UBIGINT
        |                     THEN CAST(u AS HUGEINT)
        |                          - 18446744073709551616::HUGEINT
        |                     ELSE CAST(u AS HUGEINT) END AS BIGINT)
        |           % 2147483647 + 2147483647) % 2147483647) AS m
        |  FROM (SELECT doc_id, i,
        |               ('0x' || substr(md5(s), 1, 16))::UBIGINT AS u
        |        FROM tok)),
        |fp AS (
        |  SELECT doc_id,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                                  list(m ORDER BY i)),
        |                     (a, b) -> (a * 31 + b) % 2147483647)
        |           AS fingerprint
        |  FROM tm GROUP BY doc_id),
        |w AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |              ELSE [array_to_string(toks[s1 + 1 : s1 + 8], ' ')
        |                    for s1 in range(0, len(toks) - 7)] END AS wins
        |  FROM t),
        |wm AS (
        |  SELECT doc_id,
        |         min(CAST(CASE WHEN u >= 9223372036854775808::UBIGINT
        |                       THEN CAST(u AS HUGEINT)
        |                            - 18446744073709551616::HUGEINT
        |                       ELSE CAST(u AS HUGEINT) END AS BIGINT))
        |           AS win_min_hash
        |  FROM (SELECT doc_id,
        |               ('0x' || substr(md5(wtext), 1, 16))::UBIGINT AS u
        |        FROM (SELECT doc_id, unnest(wins) AS wtext FROM w))
        |  GROUP BY doc_id)
        |SELECT t.doc_id, fp.fingerprint, wm.win_min_hash
        |FROM t JOIN fp USING (doc_id) JOIN wm USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // The quota semantics in window form: per-source running token sum
    // in md5(doc_id) order, doc taken while the EXCLUSIVE sum is under
    // the source's budget — the boundary-crossing doc is in.
    "llm_mix_weighted" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS mix_key
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (
        |              PARTITION BY source ORDER BY mix_key, doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
        |       cum_before
        |FROM c
        |WHERE cum_before < CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
        |                        THEN 500 ELSE 250 END
        |ORDER BY doc_id""".stripMargin,
    "llm_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       count(DISTINCT source) AS n_sources,
        |       CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
        |         AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_quality_score" ->
      s"""WITH $qualityComponentsSql
        |SELECT doc_id, n_tokens, uniq_ratio, stop_ratio, avg_tok_len,
        |       $qualityExprSql AS quality
        |FROM qs ORDER BY doc_id""".stripMargin,
    "llm_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |            AS INT) AS bpe_tokens,
        |       CAST(length(text) AS DOUBLE)
        |         / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |         AS chars_per_tok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |terms_f AS (SELECT * FROM terms WHERE length(token) > 0),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |       FROM terms_f GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM
        |       (SELECT DISTINCT doc_id, token FROM terms_f) GROUP BY token),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |       tf.tf * ln(n.n / df.df) AS tfidf
        |FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
        |ORDER BY tf.doc_id, tf.token""".stripMargin,
    // Same md5-derived bucket on both sides: reproducible sampling is a
    // portability contract, not a convenience.
    "llm_sample_stratified" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              x -> list_contains($stopList, x))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS stop_ratio
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |         CASE WHEN stop_ratio >= 0.15 THEN 'en'
        |              WHEN stop_ratio >= 0.05 THEN 'mixed'
        |              ELSE 'other' END AS predicted_lang,
        |         ${md5BucketSql("doc_id", 100)} AS bucket
        |  FROM t)
        |SELECT doc_id, predicted_lang, bucket FROM l
        |WHERE bucket < CASE predicted_lang WHEN 'en' THEN 30
        |                    WHEN 'mixed' THEN 50 ELSE 10 END
        |ORDER BY doc_id""".stripMargin,
    "llm_lang_id" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              x -> list_contains($stopList, x))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS stop_ratio
        |  FROM documents)
        |SELECT doc_id, lang, stop_ratio,
        |       CASE WHEN stop_ratio >= 0.15 THEN 'en'
        |            WHEN stop_ratio >= 0.05 THEN 'mixed'
        |            ELSE 'other' END AS predicted_lang
        |FROM t ORDER BY doc_id""".stripMargin
  )
}
