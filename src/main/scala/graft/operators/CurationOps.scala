package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators a production training-data pipeline runs
  * between crawling and training (builder prompt: "the operations a
  * large-scale training-data pipeline would need"): benchmark
  * decontamination, PII scrubbing, and intra-document repetition scoring
  * — the three standard hygiene passes alongside dedup
  * ([[DedupOps]]/[[SimOps]]) and quality filtering ([[TextOps]]).
  *
  * Scale notes: the eval/benchmark set in decontamination is thousands of
  * documents against a corpus of billions, so its n-gram set broadcasts
  * and the corpus side is one explode + broadcast semi-ish join + per-doc
  * count — linear, no corpus shuffle beyond the doc_id aggregation. PII
  * scrub and repetition scoring are pure narrow column expressions
  * (regexp / array ops) that stream through the scan.
  */
object CurationOps extends OpModule {

  private def toks: Column = split(col("text"), " ")

  /** Distinct n-gram set over whitespace tokens (the [[DedupOps]] shingle
    * shape, n parameterized).
    */
  private def ngrams(n: Int): Column = {
    // n = 3 is the hot path (every call site today): the native one-pass
    // ShingleSet expression — see its doc for why the declarative chain
    // is pathological under explode. Other n keep the generic chain.
    if (n == 3) DedupOps.shingleCol
    else {
      val parts = (0 until n).map(j => s"toks[i+$j]").mkString(", ")
      expr(
        s"""array_distinct(
           |  CASE WHEN size(toks) >= $n THEN
           |    transform(sequence(0, size(toks) - $n),
           |              i -> concat_ws(' ', $parts))
           |  ELSE array() END)""".stripMargin)
    }
  }

  /** Benchmark decontamination: flag corpus documents sharing any n-gram
    * with the held-out evaluation set — the pass that keeps test answers
    * out of training data. The fixture's "benchmark" is the deterministic
    * doc_id % 97 slice; n = 3 so the 40-word-vocab fixture produces
    * non-trivial overlap (production uses 8–13-grams; the plan is
    * n-independent). Output: every contaminated doc with its distinct
    * shared-n-gram count and the smallest benchmark doc it collides with.
    *
    * Plan: benchmark n-grams are exploded and broadcast (eval suites are
    * tiny next to the corpus); the corpus side explodes once, equi-joins
    * on the n-gram string, and aggregates per doc — no corpus self-join,
    * no shuffle except the per-doc count.
    *
    * Skew note for 100 TB: a stop-n-gram ("the a of"-grade) present in a
    * large corpus fraction would fan the join out by its benchmark
    * multiplicity. Production decontamination caps benchmark-side n-gram
    * document frequency first (a frequent n-gram is not leakage — the
    * standard 8-13-gram length mostly prevents it, and the cap is one
    * `groupBy(g).count.filter` on the TINY benchmark side). Not applied
    * here so the fixture's n=3 oracle stays an exact overlap census.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .withColumn("toks", toks)
      .select(col("doc_id"), explode(ngrams(3)).as("g"))
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("g"))
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared"),
        min(col("bench_id")).as("first_bench"))
      .orderBy(col("doc_id"))
  }

  /** PII scrubbing: redact emails and phone-shaped strings, counting what
    * was removed. The fixture text is clean by construction, so the dirty
    * input is modeled by deterministically injecting a contact line into
    * every 5th document (doc_id-derived, reproduced identically by the
    * oracle) — the transform itself is exactly the production pass:
    * `regexp_extract_all` to count, `regexp_replace` to redact, patterns
    * kept in the regex subset Java and RE2 agree on. Narrow end-to-end.
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame =
    scrubFrame(Tables.documents(s, dir)
      .withColumn("dirty",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text"))), "dirty")
      .orderBy(col("doc_id"))

  /** The email pattern, in the regex subset Java and RE2 agree on (no
    * backrefs/lookaround): full local-part character class, case-
    * insensitive via explicit ranges, TLD of ≥2 letters — `scrubFrame`
    * is a reusable API over arbitrary input, so a lowercase-only class
    * would silently leak mixed-case or `_`/`+`/`-` addresses.
    */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** The scrub transform over any frame with a text column — STATELESS
    * and narrow, so it runs unchanged on a stream (no sort, no state;
    * CurationSpec drives it through readStream). Emits doc_id, n_emails,
    * n_phones, clean_text.
    *
    * Both the counting and the redaction paths take the SAME Scala
    * pattern string through the functions API — never through a SQL
    * string literal, whose parser (escapedStringLiterals=false) would
    * strip the `\` off `\.` and silently turn the TLD dot into
    * any-character for the count while redaction kept the literal dot.
    */
  def scrubFrame(df: DataFrame, textCol: String = "text"): DataFrame =
    df
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit("555-[0-9]{4}"), lit(0))))
      .withColumn("clean_text",
        regexp_replace(
          regexp_replace(col(textCol), emailRe, "<EMAIL>"),
          "555-[0-9]{4}", "<PHONE>"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        col("clean_text"))

  /** Gopher-style repetition scoring: the fraction of duplicated tokens
    * and duplicated 3-grams inside each document (1 − distinct/total),
    * plus the filter verdict at the 5% duplicate-3-gram threshold. Pure
    * narrow array arithmetic — the doc never leaves its partition.
    * Documents too short to FORM a 3-gram carry no repetition evidence
    * and score 0 (flagging them 'maximally repetitive' would silently
    * drop every short doc from training data).
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("dup_token_frac",
        lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
          col("n_tokens"))
      .withColumn("dup_3gram_frac",
        when(col("n_tokens") >= 3,
          lit(1.0) - size(ngrams(3)).cast("double") / (col("n_tokens") - 2))
          .otherwise(lit(0.0)))
      .withColumn("flagged", col("dup_3gram_frac") > 0.05)
      .select(col("doc_id"), col("n_tokens"), col("dup_token_frac"),
        col("dup_3gram_frac"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing — the step that turns a cleaned corpus into fixed
    * token-budget training sequences: documents are concatenated in a
    * deterministic order within a shard and split at every `budget`-token
    * boundary, so each doc's placement is pure arithmetic over the
    * EXCLUSIVE running token count: seq_id = cum_before div budget,
    * offset = cum_before mod budget, crosses = does it straddle a
    * boundary.
    *
    * The running sum is [[graft.operators.WindowOps.spreadRank]]'s prefix
    * machinery (weight = n_tokens), NOT a shard-partitioned window — so
    * parallelism is the shuffle width, not the 32-shard count, the same
    * fix the round-5 window rewrite made. Shard count is a config that
    * scales with the writer fleet; packing stays deterministic (shard =
    * doc_id mod 32, order = doc_id) so the same corpus packs identically
    * on any cluster layout.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    packed(s, Tables.documents(s, dir)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(32L)).as("shard"),
        size(split(col("text"), " ")).as("n_tokens")))
      .orderBy(col("doc_id"))

  /** The packing arithmetic over any (doc_id, shard, n_tokens) frame —
    * shared by the raw-table query and the corpus-prepare capstone.
    * Emits doc_id, shard, seq_id, offset, n_tokens, crosses.
    */
  private[operators] def packed(s: SparkSession, base: DataFrame): DataFrame = {
    val budget = 512
    WindowOps.spreadRank(base, "shard", Seq(col("doc_id")),
        s.sessionState.conf.numShufflePartitions, weight = Some("n_tokens"))
      .withColumn("cum_before", col("__pre") - col("n_tokens"))
      .select(col("doc_id"), col("shard"),
        expr(s"cum_before div $budget").as("seq_id"),
        (col("cum_before") % budget).as("offset"),
        col("n_tokens"),
        (col("cum_before") % budget + col("n_tokens") > budget).as("crosses"))
  }

  /** Sliding token-window chunking — the step before embedding documents
    * longer than the encoder's context: 32-token windows every 24 tokens
    * (25% overlap so no boundary-straddling phrase is lost), the tail
    * window clipped, chunk_idx = start/stride. One explode, otherwise
    * narrow — a chunk never leaves its document's partition, and at
    * 100 TB the fan-out factor is bounded by doc length / stride.
    */
  def chunkWindows(s: SparkSession, dir: String): DataFrame = {
    val win = 32
    val stride = 24
    Tables.documents(s, dir)
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("start", explode(sequence(lit(0),
        greatest(col("n_tokens") - 1, lit(0)), lit(stride))))
      .withColumn("chunk_toks",
        slice(col("toks"), col("start") + 1, lit(win)))
      .select(col("doc_id"),
        expr(s"start div $stride").as("chunk_idx"),
        size(col("chunk_toks")).as("n_chunk_tokens"),
        concat_ws(" ", col("chunk_toks")).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** URL-canonicalization dedup — the FIRST dedup stage of a web-crawl
    * pipeline (cheaper than any content hash: it kills re-crawls of the
    * same page before the text is even read). The fixture's raw URLs are
    * synthesized deterministically with the classic duplicate-inducing
    * variants (scheme change, host case, trailing slash, utm_ tracking
    * params, query-param order, fragment — the [[piiScrub]] injection
    * precedent, reproduced identically by the oracle); the transform
    * itself is exactly the production pass: [[canonicalUrl]] over any
    * URL column, then one groupBy for the census. Fully narrow until the
    * canonical-key aggregate — one shuffle, linear at any corpus size.
    */
  def urlDedup(s: SparkSession, dir: String): DataFrame = {
    val page = pmod(col("doc_id"), lit(120L))
    val m = pmod(col("doc_id"), lit(5L))
    Tables.documents(s, dir)
      .withColumn("url",
        when(m === 0,
          concat(lit("https://example.org/articles/"), page))
        .when(m === 1,
          concat(lit("http://example.org/articles/"), page, lit("/")))
        .when(m === 2, concat(lit("https://EXAMPLE.org/articles/"), page,
          lit("?utm_source=feed")))
        .when(m === 3, concat(lit("https://example.org/articles/"), page,
          lit("?b=2&a=1")))
        .otherwise(concat(lit("https://example.org/articles/"), page,
          lit("?a=1&b=2#frag"))))
      .withColumn("canon", canonicalUrl(col("url")))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_variants"),
        min(col("doc_id")).as("keeper_doc"),
        countDistinct(col("url")).as("n_distinct_raw"))
      .orderBy(col("canon"))
  }

  /** Canonical form of a URL column — scheme- and fragment-stripped,
    * HOST lowercased (ONLY the host: path and query values are
    * case-sensitive resources per RFC 3986, and a frontier that
    * case-folds them would skip real pages), trailing slash trimmed,
    * utm_ tracking params dropped, surviving query params sorted. The
    * query starts at the FIRST '?' — '?' is legal unencoded inside a
    * query, so an after-the-LAST-'?' parse would silently drop leading
    * params. Pure narrow string/array expressions (regexp + split +
    * array_sort), reusable over any frame; ASCII-lexicographic param
    * sort matches the oracle's `list_sort`.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(
      regexp_replace(url, "(?i)^https?://", ""), "#.*$", "")
    val nf = concat(lower(regexp_extract(noFrag, "^[^/?]*", 0)),
      regexp_replace(noFrag, "^[^/?]*", ""))
    val path = regexp_replace(
      substring_index(nf, "?", 1), "/+$", "")
    val params = filter(split(
      regexp_replace(nf, "^[^?]*\\?", ""), "&"),
      p => p =!= "" && !p.startsWith("utm_"))
    val hasQ = instr(nf, "?") > 0
    concat(path,
      when(hasQ && size(params) > 0,
        concat(lit("?"), array_join(array_sort(params), "&")))
        .otherwise(lit("")))
  }

  /** Hashed feature-bucket count for DSIR — fixed model width, so the
    * census state is mergeable and constant-size at any corpus scale.
    */
  private val dsirBuckets = 256

  /** How many documents the Gumbel resample keeps. */
  private val dsirK = 200

  /** DSIR-style data selection (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score every raw
    * document by the log importance ratio of its hashed-n-gram profile
    * under a TARGET distribution vs the RAW corpus distribution, then
    * Gumbel-top-k resample ∝ exp(weight). The target here is the
    * corpus's own `lang = 'en'` slice (a stand-in for the curated
    * high-quality sample a production run supplies); features are
    * unigrams + space-joined bigrams hashed into [[dsirBuckets]] buckets
    * by the portable md5 bucket ([[TextOps.md5Bucket]]), with +1 Laplace
    * smoothing per bucket.
    *
    * Parity design (the [[TextOps.lmArtifact]] fixed-point stance): each
    * bucket's two `ln` probabilities are quantized ONCE to integer
    * micro-nats, so a document's weight is an EXACT BIGINT sum no
    * accumulation order can perturb; the Gumbel key g = −ln(−ln(u)) uses
    * the md5-derived 60-bit uniform and is quantized to the same grid,
    * so score = w + g stays exact-integer and the top-k is
    * engine-independent.
    *
    * Scale shape: ONE gram pass feeds a 256-row census (map-side-combined
    * hash aggregate — constant-width state, the raw and target counts in
    * the same pass via a conditional sum); the log-ratio table broadcasts
    * back onto the gram stream and the per-doc weight is one
    * map-side-combined sum keyed by doc_id; selection is
    * `TakeOrderedAndProject` (bounded heap per partition, never a global
    * sort). At 100 TB the target census comes from the small curated
    * corpus (broadcast by construction) and the raw census is the same
    * 256-bucket mergeable aggregate — the scoring pass stays one narrow
    * map + one well-keyed shuffle.
    *
    * Plan note (BroadcastNestedLoopJoin): the normalizing totals
    * `(tq, tp)` are a ONE-ROW scalar aggregate, `crossJoin(broadcast(…))`
    * onto the fixed 256-row census — the sanctioned [[TextOps]]
    * llm_tfidf pattern. The BNLJ's build side is 1 row and its probe
    * side is [[dsirBuckets]] rows at ANY corpus size, so the join is
    * constant work; `llm_dsir_select` is on QueriesSmokeSpec's
    * `broadcastNonEqui` allowlist for exactly this reason.
    *
    * Residual cross-engine risk (accepted under the lmArtifact stance):
    * `round(ln(x)·1e6)` is evaluated independently by JVM `Math.log` and
    * the oracle's libm, so a 1-ulp difference landing exactly on a
    * .5-micro-nat boundary could flip one `lr_unat` (or Gumbel key) by 1
    * and reorder a top-k tie neighborhood. Observed hash parity holds at
    * all tested SFs; if it ever flips, derive the 256-entry log-ratio
    * table once and feed both engines the same quantized constants.
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame =
    dsirSelectFrame(Tables.documents(s, dir))

  /** [[dsirSelect]] serving from the PERSISTED quantized log-ratio
    * table — the FromStore twin every other expensive family already
    * has ([[graft.operators.TextOps]] mergeStore precedent): the
    * 256-bucket census + totals + ln() quantization run ONCE per
    * fixture fingerprint ([[ArtifactStore]]) and land as a parquet
    * artifact of 256 `(b, lr_unat)` longs; a query invocation then pays
    * exactly one gram pass (hash + broadcast-join + per-doc sum) plus
    * the Gumbel top-k, instead of the recompute's two passes over the
    * gram stream. Identical output by construction — the stored
    * `lr_unat` IS the recompute's quantized integer, so the same
    * llm_dsir_select oracle pins both. (The r13-measured-and-rejected
    * one-pass variant cached the GRAM stream in-session, which can never
    * safely unpersist itself; persisting the 256-row MODEL instead is
    * the production answer. A deployment scoring a NEW raw crawl against
    * a trained target keeps this exact shape — the lr table is the
    * model artifact, the crawl only ever pays the scoring pass.)
    */
  def dsirSelectServed(s: SparkSession, dir: String): DataFrame = {
    val root = ArtifactStore.cached("dsir_lr", dir) { out =>
      dsirLrTable(Tables.documents(s, dir)).write.mode("overwrite")
        .parquet(s"$out/dsir_lr.parquet")
    }
    dsirSelectFromLr(Tables.documents(s, dir),
      s.read.parquet(s"$root/dsir_lr.parquet"))
  }

  /** [[dsirSelect]] over an arbitrary (doc_id, text, lang) frame — the
    * spec entry point (synthetic corpora with a planted target-vocab
    * slice exercise the upweighting the shipped fixture's
    * lang-independent text cannot).
    */
  private[graft] def dsirSelectFrame(docs: DataFrame): DataFrame =
    dsirSelectFromLr(docs, dsirLrTable(docs))

  /** The hashed-bigram feature stream feeding both DSIR passes:
    * unigrams + space-joined bigrams, md5-bucketed into
    * [[dsirBuckets]]. Deliberately recomputed from lineage by each
    * consumer — see the one-pass rejection note in [[dsirLrTable]].
    */
  private def dsirGrams(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"), toks.as("tk"))
    val uni = t.select(col("doc_id"), col("lang"),
      explode(col("tk")).as("g")).filter(col("g") =!= "")
    val bi = t
      .select(col("doc_id"), col("lang"),
        explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - 1).as("a"),
          slice(col("tk"), lit(2), size(col("tk")) - 1).as("b"))).as("pr"))
      .select(col("doc_id"), col("lang"),
        concat(col("pr.a"), lit(" "), col("pr.b")).as("g"))
    uni.unionByName(bi)
      .withColumn("b", TextOps.md5Bucket(col("g"), dsirBuckets))
  }

  /** The DSIR model artifact: the 256-bucket quantized log-ratio table
    * `(b, lr_unat)` — integer micro-nats, so the table is exact and
    * engine-independent (the [[TextOps.lmArtifact]] stance).
    *
    * The gram stream deliberately feeds the census and (in the
    * recompute form) the scoring pass from lineage — recomputed, never
    * materialized in-session: a measured one-pass variant that
    * pre-aggregated (doc_id, bucket, n) counts and checkpointed them
    * ran 2× SLOWER at the 500k-doc tier (24.4 s vs 12.3 s — the 40M-row
    * materialization costs more than the second md5 pass) and degraded
    * 5–9× on repeat invocations (an operator returning a lazy frame can
    * never safely unpersist its own checkpoint, so back-to-back runs
    * accumulate block-manager pressure — the r12 bpeLoop lesson,
    * re-measured here; BENCH note in PERF.md r13). [[dsirSelectServed]]
    * persists THIS 256-row model instead — the cache that works.
    */
  private[graft] def dsirLrTable(docs: DataFrame): DataFrame = {
    val grams = dsirGrams(docs)
    val census = grams.groupBy(col("b")).agg(
      count(lit(1)).as("nq"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"))
    val totals = census.agg(
      sum(col("nq")).as("tq"), sum(col("np")).as("tp"))
    census.crossJoin(broadcast(totals))
      .select(col("b"),
        (round(log((col("np") + 1).cast("double") /
            (col("tp") + dsirBuckets).cast("double")) * lit(1000000.0), 0)
            .cast("long") -
          round(log((col("nq") + 1).cast("double") /
            (col("tq") + dsirBuckets).cast("double")) * lit(1000000.0), 0)
            .cast("long")).as("lr_unat"))
  }

  /** DSIR scoring + selection against a given (possibly persisted)
    * [[dsirLrTable]]: one gram pass, per-doc exact-integer weight sum,
    * quantized Gumbel key, bounded-heap top-[[dsirK]].
    */
  private[graft] def dsirSelectFromLr(docs: DataFrame,
      lr: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weights = dsirGrams(docs).join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("lr_unat")).as("w_unat"), count(lit(1)).as("n_grams"))
    val u60 = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val u = (u60.cast("double") + lit(0.5)) / lit(1152921504606846976.0)
    val scored = weights
      .withColumn("score_unat",
        col("w_unat") +
          round(-log(-log(u)) * lit(1000000.0), 0).cast("long"))
      .orderBy(desc("score_unat"), col("doc_id")).limit(dsirK)
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score_unat"), col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("n_grams"),
        (col("w_unat").cast("double") / lit(1000000.0)).as("logweight"),
        (col("score_unat").cast("double") / lit(1000000.0))
          .as("gumbel_score"))
      .orderBy(col("rank"))
  }

  /** CCNet-style per-language quality buckets (Wenzek et al. 2020): score
    * every document by its LM perplexity ([[TextOps.perplexityMicro]] —
    * the same exact integer micro-nats the flag gate reads), then split
    * each language at its within-language perplexity terciles into
    * `head` / `middle` / `tail` — the corpus partition CCNet trains on
    * head+middle of and discards tail of. Cutoffs are DATA-DERIVED
    * per-language quantiles (the operator's point: "bad" is relative to
    * the language's own distribution), computed through the
    * [[AggOps.exactPercentiles]] spread-rank pass — distributed prefix
    * counts, `percentile`/`quantile_cont`-exact, no per-group in-memory
    * value list — then broadcast (3 numbers per language) onto a narrow
    * comparison pass.
    *
    * Scale shape: perplexity scoring is the [[TextOps.perplexity]] plan
    * (map-side-combined doc-bigram census + LM join); the tercile pass
    * spreads doc scores across the full shuffle width even though
    * languages are few (the spread-rank property); the bucket assignment
    * is map-only against the broadcast cutoffs. Docs with <2 tokens have
    * no perplexity evidence and drop out, as in [[TextOps.perplexity]].
    */
  def qualityBuckets(s: SparkSession, dir: String): DataFrame = {
    // lineage cut: the scored frame feeds BOTH the cutoff pass and the
    // assignment join. Catalyst's exchange reuse usually dedups the
    // shared subplan, but that reuse is a fragile plan-shape accident
    // under AQE; the checkpoint makes the single materialization a
    // guarantee (500k-doc tier measured equal either way — this is
    // insurance, not a win). Doc-count × 3 narrow columns — the score
    // table a real pipeline would persist anyway.
    val scored = qualityScored(s, dir, TextOps.lmArtifact(s, dir))
      .transform(graft.Checkpoints.truncate)
    qualityAssign(scored, qualityCuts(s, scored))
  }

  /** [[qualityBuckets]] against PERSISTED model artifacts — the
    * production serving form. Three artifacts land at build time from
    * ONE scoring pass under the stored LM (so none can drift): the
    * bigram LM itself ([[TextOps.lmStore]]), the per-language tercile
    * cutoffs (languages × 3 parquet), and the SNAPSHOT slice's per-doc
    * score table (doc_id < the fixture's snapshot boundary —
    * `(doc_id, avg_nll_micro, lang)`, exact integers, so the read-back
    * rows ARE the recompute's). A serving run then scores ONLY the
    * crawl batch (doc_id ≥ boundary) against the stored LM, unions the
    * stored snapshot scores, and broadcast-assigns buckets with the
    * stored cutoffs — per-batch cost proportional to the BATCH, not the
    * corpus. (The r15 form persisted only LM + cutoffs and re-paid
    * full-corpus perplexity scoring every run — the
    * BENCH_stress100x_qualitybuckets_ab_r15 measured tie; the score
    * table is what a production pipeline persists anyway, the same
    * stance as the dedup label store.) Identical output by
    * construction — shared `llm_quality_buckets` oracle.
    */
  def qualityBucketsServed(s: SparkSession, dir: String): DataFrame = {
    val lm = TextOps.lmStore(s, dir)
    val k = Tables.snapshotBoundary(s, dir, "documents")
    val root = ArtifactStore.cached("quality_cuts", dir) { out =>
      val scored = qualityScored(s, dir, lm)
        .transform(graft.Checkpoints.truncate)
      qualityCuts(s, scored).write.mode("overwrite")
        .parquet(s"$out/cuts.parquet")
      scored.filter(col("doc_id") < k)
        .write.mode("overwrite").parquet(s"$out/scores.parquet")
    }
    val batchScored = qualityScoredDocs(
      Tables.documents(s, dir).filter(col("doc_id") >= k), lm)
    qualityAssign(
      s.read.parquet(s"$root/scores.parquet").unionByName(batchScored),
      s.read.parquet(s"$root/cuts.parquet"))
  }

  /** Per-doc (doc_id, avg_nll_micro, lang) scoring frame under a given
    * LM — the shared head of both bucket forms.
    */
  private def qualityScored(s: SparkSession, dir: String,
      lm: DataFrame): DataFrame =
    qualityScoredDocs(Tables.documents(s, dir), lm)

  private def qualityScoredDocs(docs: DataFrame,
      lm: DataFrame): DataFrame =
    TextOps.perplexityMicroDocs(docs, lm)
      .select(col("doc_id"), col("avg_nll_micro"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")

  private def qualityCuts(s: SparkSession, scored: DataFrame): DataFrame =
    AggOps.exactPercentiles(s, scored, "lang", "avg_nll_micro",
      Seq(("c33", 1.0 / 3), ("c66", 2.0 / 3)), collapse = false)

  private def qualityAssign(scored: DataFrame, cuts: DataFrame): DataFrame =
    scored.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"),
        when(col("avg_nll_micro").cast("double") <= col("c33"), lit("head"))
          .when(col("avg_nll_micro").cast("double") <= col("c66"),
            lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_quality_buckets" -> qualityBuckets,
    "llm_quality_buckets_served" -> qualityBucketsServed,
    "llm_url_dedup" -> urlDedup,
    "llm_decontaminate" -> decontaminate,
    "llm_pii_scrub" -> piiScrub,
    "llm_repetition" -> repetition,
    "llm_pack_sequences" -> packSequences,
    "llm_chunk_windows" -> chunkWindows,
    "llm_dsir_select" -> dsirSelect,
    "llm_dsir_select_served" -> dsirSelectServed
  )

  // One closed-form replay for BOTH dsir forms: the served twin consumes
  // the persisted lr table but its stored integers ARE the recompute's,
  // so the outputs are identical by construction.
  private val dsirSelectSql: String =
      s"""WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS tk
        |  FROM documents),
        |uni AS (SELECT doc_id, lang, unnest(tk) AS g FROM t),
        |bi0 AS (
        |  SELECT doc_id, lang,
        |         unnest(list_zip(tk[1:length(tk) - 1],
        |                         tk[2:length(tk)])) AS pr
        |  FROM t),
        |bi AS (SELECT doc_id, lang, pr[1] || ' ' || pr[2] AS g FROM bi0),
        |grams AS (
        |  SELECT doc_id, lang, g,
        |         CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT
        |              % $dsirBuckets AS BIGINT) AS b
        |  FROM (SELECT * FROM uni WHERE g != ''
        |        UNION ALL SELECT * FROM bi)),
        |census AS (
        |  SELECT b, count(*) AS nq,
        |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np
        |  FROM grams GROUP BY b),
        |tot AS (SELECT sum(nq) AS tq, sum(np) AS tp FROM census),
        |lr AS (
        |  SELECT b,
        |         CAST(round(ln(CAST(np + 1 AS DOUBLE) /
        |              CAST(tp + $dsirBuckets AS DOUBLE)) * 1000000.0)
        |              AS BIGINT)
        |       - CAST(round(ln(CAST(nq + 1 AS DOUBLE) /
        |              CAST(tq + $dsirBuckets AS DOUBLE)) * 1000000.0)
        |              AS BIGINT) AS lr_unat
        |  FROM census, tot),
        |w AS (
        |  SELECT doc_id, CAST(sum(lr_unat) AS BIGINT) AS w_unat,
        |         count(*) AS n_grams
        |  FROM grams JOIN lr USING (b) GROUP BY doc_id),
        |sc AS (
        |  SELECT doc_id, n_grams, w_unat,
        |         w_unat + CAST(round(-ln(-ln(
        |           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |                  1, 15))::UBIGINT AS DOUBLE) + 0.5)
        |           / 1152921504606846976.0)) * 1000000.0) AS BIGINT)
        |           AS score_unat
        |  FROM w),
        |top AS (
        |  SELECT *, row_number()
        |           OVER (ORDER BY score_unat DESC, doc_id) AS rank
        |  FROM sc ORDER BY score_unat DESC, doc_id LIMIT $dsirK)
        |SELECT CAST(rank AS INT) AS rank, doc_id,
        |       CAST(n_grams AS BIGINT) AS n_grams,
        |       CAST(w_unat AS DOUBLE) / 1000000.0 AS logweight,
        |       CAST(score_unat AS DOUBLE) / 1000000.0 AS gumbel_score
        |FROM top ORDER BY rank""".stripMargin

  // lazy: oracleBase is declared below; the _served twin reads persisted
  // LM + cutoff artifacts but emits identical rows (the stored cutoffs
  // ARE the recompute's doubles) — shared oracle.
  lazy val oracle: Map[String, String] =
    oracleBase +
      ("llm_quality_buckets_served" -> oracleBase("llm_quality_buckets"))

  private val oracleBase: Map[String, String] = Map(
    // The full perplexity pipeline (the llm_perplexity CTEs down to the
    // integer micro-nat score) + per-language quantile_cont terciles —
    // the independent route to the spread-rank cutoffs.
    "llm_quality_buckets" ->
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
        |  FROM dc JOIN lq USING (a, b) GROUP BY 1),
        |sc AS (
        |  SELECT j.doc_id, d.lang,
        |         (-sum_lq) // n_bigrams AS avg_nll_micro
        |  FROM j JOIN documents d USING (doc_id)),
        |cuts AS (
        |  SELECT lang,
        |         quantile_cont(avg_nll_micro, 1.0/3) AS c33,
        |         quantile_cont(avg_nll_micro, 2.0/3) AS c66
        |  FROM sc GROUP BY 1)
        |SELECT sc.doc_id, sc.lang,
        |       CASE WHEN CAST(avg_nll_micro AS DOUBLE) <= c33 THEN 'head'
        |            WHEN CAST(avg_nll_micro AS DOUBLE) <= c66 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM sc JOIN cuts USING (lang)
        |ORDER BY doc_id""".stripMargin,
    "llm_dsir_select" -> dsirSelectSql,
    "llm_dsir_select_served" -> dsirSelectSql,
    "llm_url_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE doc_id % 5
        |           WHEN 0 THEN 'https://example.org/articles/'
        |                       || (doc_id % 120)
        |           WHEN 1 THEN 'http://example.org/articles/'
        |                       || (doc_id % 120) || '/'
        |           WHEN 2 THEN 'https://EXAMPLE.org/articles/'
        |                       || (doc_id % 120) || '?utm_source=feed'
        |           WHEN 3 THEN 'https://example.org/articles/'
        |                       || (doc_id % 120) || '?b=2&a=1'
        |           ELSE 'https://example.org/articles/'
        |                || (doc_id % 120) || '?a=1&b=2#frag'
        |         END AS url
        |  FROM documents),
        |c0 AS (
        |  SELECT doc_id, url,
        |         regexp_replace(regexp_replace(url,
        |           '(?i)^https?://', ''), '#.*$', '') AS nf0
        |  FROM d),
        |c AS (
        |  SELECT doc_id, url,
        |         lower(regexp_extract(nf0, '^[^/?]*', 0)) ||
        |           regexp_replace(nf0, '^[^/?]*', '') AS nf
        |  FROM c0),
        |p AS (
        |  SELECT doc_id, url,
        |         regexp_replace(
        |           CASE WHEN instr(nf, '?') > 0
        |                THEN nf[1:instr(nf, '?') - 1] ELSE nf END,
        |           '/+$', '') AS path,
        |         CASE WHEN instr(nf, '?') > 0
        |              THEN list_filter(
        |                string_split(nf[instr(nf, '?') + 1:len(nf)], '&'),
        |                x -> x != '' AND NOT starts_with(x, 'utm_'))
        |              ELSE [] END AS params
        |  FROM c)
        |SELECT path || CASE WHEN len(params) > 0
        |                    THEN '?' || array_to_string(list_sort(params),
        |                                                '&')
        |                    ELSE '' END AS canon,
        |       count(*) AS n_variants,
        |       min(doc_id) AS keeper_doc,
        |       count(DISTINCT url) AS n_distinct_raw
        |FROM p GROUP BY 1 ORDER BY canon""".stripMargin,
    "llm_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' ||
        |                toks[i+2] for i in range(1, greatest(len(toks)-1, 1))]))
        |           AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |bench AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % 97 = 0)
        |SELECT sh.doc_id, count(DISTINCT sh.g) AS n_shared,
        |       min(bench_id) AS first_bench
        |FROM sh JOIN bench ON sh.g = bench.g
        |WHERE sh.doc_id % 97 != 0
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "llm_pii_scrub" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0
        |              THEN text || ' contact user' || doc_id ||
        |                   '@example.com or call 555-' ||
        |                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              ELSE text END AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(dirty,
        |            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |            AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(dirty, '555-[0-9]{4}')) AS INT)
        |         AS n_phones,
        |       regexp_replace(regexp_replace(dirty,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |           '<EMAIL>', 'g'),
        |           '555-[0-9]{4}', '<PHONE>', 'g') AS clean_text
        |FROM d ORDER BY doc_id""".stripMargin,
    "llm_chunk_windows" ->
      """SELECT doc_id,
        |       CAST(s // 24 AS BIGINT) AS chunk_idx,
        |       CAST(len(toks[s + 1 : s + 32]) AS INT) AS n_chunk_tokens,
        |       array_to_string(toks[s + 1 : s + 32], ' ') AS chunk_text
        |FROM (
        |  SELECT doc_id, toks,
        |         unnest(range(0, greatest(len(toks), 1), 24)) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents))
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "llm_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 32 AS shard,
        |         len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (
        |              PARTITION BY shard ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT doc_id, shard,
        |       CAST(cum_before // 512 AS BIGINT) AS seq_id,
        |       CAST(cum_before % 512 AS BIGINT) AS offset,
        |       CAST(n_tokens AS INT) AS n_tokens,
        |       (cum_before % 512) + n_tokens > 512 AS crosses
        |FROM c ORDER BY doc_id""".stripMargin,
    "llm_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |f AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS INT) AS n_tokens,
        |         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |           AS dup_token_frac,
        |         CASE WHEN len(toks) >= 3 THEN
        |           1.0 - CAST(len(list_distinct([toks[i] || ' ' ||
        |                  toks[i+1] || ' ' || toks[i+2]
        |                  for i in range(1, greatest(len(toks)-1, 1))]))
        |                AS DOUBLE) / (len(toks) - 2)
        |         ELSE 0.0 END AS dup_3gram_frac
        |  FROM t)
        |SELECT doc_id, n_tokens, dup_token_frac, dup_3gram_frac,
        |       dup_3gram_frac > 0.05 AS flagged
        |FROM f ORDER BY doc_id""".stripMargin
  )
}
