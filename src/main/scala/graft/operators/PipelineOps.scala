package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.minhashTokens

/** The training-corpus cleaning pipeline as ONE composed query — the
  * end-to-end use case the individual LLM-pipeline operators exist for
  * (builder prompt): quality gate → exact-dedup canonicalization →
  * near-dup removal → language filter, producing the surviving corpus.
  *
  * Composition is by doc_id joins over the already-verified component
  * queries (quality/lang are narrow column math; exact-dup keepers a hash
  * aggregate; near-dup losers the LSH pipeline's pair output). Each stage
  * is the scale-correct plan on its own, and the joins all run on the
  * same key. At 100 TB the stages would share one scan via a persisted
  * staging table; here each is left independent so Catalyst's per-stage
  * plans stay the asserted ones.
  */
object PipelineOps extends OpModule {

  /** Survivors of the full cleaning pipeline, with their quality signals.
    * Thresholds (quality ≥ 0.3, predicted lang en/mixed) are calibrated
    * to this corpus: they keep roughly the upper half and drop the
    * stopword-free noise tail.
    */
  def corpusClean(s: SparkSession, dir: String): DataFrame = {
    // quality + language signals come from ONE narrow documents pass
    val scored = TextOps.signals(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("predicted_lang"))
    val exactKeepers = DedupOps.dedupExact(s, dir)
      .select(col("keeper_id").as("doc_id"))
    val nearDupLosers = DedupOps.dedupNear(s, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    scored
      .join(exactKeepers, "doc_id")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .filter(col("quality") >= 0.3 &&
        col("predicted_lang").isin("en", "mixed"))
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  /** The COMPLETE corpus-preparation flow, crawl to training sequences:
    * [[corpusClean]]'s survivor criteria (quality gate → exact dedup →
    * near-dup removal → language filter) minus the benchmark slice and
    * every doc sharing an n-gram with it ([[CurationOps.decontaminate]]'s
    * criterion — eval data neither trains nor leaks), minus repetitive
    * docs ([[CurationOps.repetition]]'s criterion), packed into fixed
    * 512-token training sequences ([[CurationOps.packed]] — spreadRank
    * prefix sums, so the packing runs at shuffle-width parallelism).
    *
    * Plan shape: ONE narrow corpus pass computes every per-doc artifact
    * the stages consume — text signals ([[TextOps.signalsFrame]]), digest,
    * minhash sketch, shingle set — and is materialized once
    * (localCheckpoint here; at 100 TB this frame is a persisted STAGING
    * TABLE written by the pass and read by each stage). The five stages
    * then run as aggregates/joins over those ~500 B/doc artifacts: the
    * raw text is scanned exactly once per run instead of once per stage,
    * which at corpus scale is the difference between one 100 TB read and
    * seven. Each stage's criterion is byte-identical to its standalone
    * operator ([[DedupOps.nearPairsFromArtifacts]] is the artifact twin
    * of the two-pass [[DedupOps.dedupNear]]); the oracle composes the
    * same CTEs.
    */
  def corpusPrepare(s: SparkSession, dir: String): DataFrame = {
    val art = TextOps.signalsFrame(graft.Tables.documents(s, dir))
      .withColumn("digest", DedupOps.digestCol)
      .withColumn("mh",
        when(size(col("toks")) >= 3, minhashTokens(col("toks"))))
      .withColumn("shingles", DedupOps.shingleCol)
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("predicted_lang"), col("digest"), col("mh"), col("shingles"))
      .transform(graft.Checkpoints.truncate)
    val exactKeepers = art.groupBy(col("digest"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val nearDupLosers = DedupOps.nearPairsFromArtifacts(art)
      .select(col("doc_b").as("doc_id")).distinct()
    val survivors = art
      .filter(col("quality") >= 0.3 &&
        col("predicted_lang").isin("en", "mixed") &&
        col("doc_id") % 97 =!= 0)
      .join(exactKeepers, "doc_id")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"))
    val grams = art.select(col("doc_id"), explode(col("shingles")).as("g"))
    val benchGrams = grams.filter(col("doc_id") % 97 === 0)
      .select(col("g")).distinct()
    val contaminated = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    // dup-3gram fraction from the cached shingle set: shingles IS the
    // distinct 3-gram array, so 1 − |shingles|/(n_tokens−2); docs too
    // short to form a 3-gram score 0 (CurationOps.repetition's rule)
    val repetitive = art
      .filter(col("n_tokens") >= 3 &&
        lit(1.0) - size(col("shingles")).cast("double") /
          (col("n_tokens") - 2) > 0.05)
      .select(col("doc_id"))
    val base = survivors
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(repetitive, Seq("doc_id"), "left_anti")
      .withColumn("shard", pmod(col("doc_id"), lit(32L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"))
    CurationOps.packed(s, base)
      .select(col("doc_id"), col("shard"), col("seq_id"), col("offset"),
        col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_corpus_clean" -> corpusClean,
    "llm_corpus_prepare" -> corpusPrepare
  )

  val oracle: Map[String, String] = Map(
    "llm_corpus_clean" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |           AS uniq_ratio,
        |         CAST(len(list_filter(toks,
        |              x -> list_contains(['the', 'a', 'of', 'and', 'to',
        |                                  'in'], x))) AS DOUBLE)
        |           / len(toks) AS stop_ratio,
        |         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks)
        |           AS avg_tok_len
        |  FROM t),
        |scored AS (
        |  SELECT doc_id, n_tokens,
        |         uniq_ratio * 0.5 + stop_ratio * 0.3 +
        |           least(avg_tok_len / 10.0, 1.0) * 0.2 AS quality,
        |         CASE WHEN stop_ratio >= 0.15 THEN 'en'
        |              WHEN stop_ratio >= 0.05 THEN 'mixed'
        |              ELSE 'other' END AS predicted_lang
        |  FROM q),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' ||
        |                toks[i+2] for i in range(1, greatest(len(toks)-1, 1))]))
        |           AS s
        |  FROM t),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |losers AS (
        |  SELECT DISTINCT doc_b AS doc_id
        |  FROM inter
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.9)
        |SELECT s.doc_id, n_tokens, quality, predicted_lang
        |FROM scored s
        |JOIN keepers k ON s.doc_id = k.doc_id
        |WHERE s.doc_id NOT IN (SELECT doc_id FROM losers)
        |  AND quality >= 0.3
        |  AND predicted_lang IN ('en', 'mixed')
        |ORDER BY s.doc_id""".stripMargin,
    // corpus_clean's CTEs (verbatim) + decontamination/repetition stages +
    // the running-sum packing — the same composition the Spark side makes
    // from its individually-verified operators. `sh` (the 3-gram explode)
    // is shared by the near-dup and decontamination stages.
    "llm_corpus_prepare" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |           AS uniq_ratio,
        |         CAST(len(list_filter(toks,
        |              x -> list_contains(['the', 'a', 'of', 'and', 'to',
        |                                  'in'], x))) AS DOUBLE)
        |           / len(toks) AS stop_ratio,
        |         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks)
        |           AS avg_tok_len
        |  FROM t),
        |scored AS (
        |  SELECT doc_id, n_tokens,
        |         uniq_ratio * 0.5 + stop_ratio * 0.3 +
        |           least(avg_tok_len / 10.0, 1.0) * 0.2 AS quality,
        |         CASE WHEN stop_ratio >= 0.15 THEN 'en'
        |              WHEN stop_ratio >= 0.05 THEN 'mixed'
        |              ELSE 'other' END AS predicted_lang
        |  FROM q),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' ||
        |                toks[i+2] for i in range(1, greatest(len(toks)-1, 1))]))
        |           AS s
        |  FROM t),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |losers AS (
        |  SELECT DISTINCT doc_b AS doc_id
        |  FROM inter
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.9),
        |clean AS (
        |  SELECT s.doc_id, n_tokens
        |  FROM scored s
        |  JOIN keepers k ON s.doc_id = k.doc_id
        |  WHERE s.doc_id NOT IN (SELECT doc_id FROM losers)
        |    AND quality >= 0.3
        |    AND predicted_lang IN ('en', 'mixed')
        |    AND s.doc_id % 97 != 0),
        |bench AS (SELECT s AS g FROM sh WHERE doc_id % 97 = 0),
        |contaminated AS (
        |  SELECT DISTINCT sh.doc_id FROM sh
        |  WHERE sh.doc_id % 97 != 0 AND sh.s IN (SELECT g FROM bench)),
        |repetitive AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           1.0 - CAST(len(list_distinct([toks[i] || ' ' ||
        |                  toks[i+1] || ' ' || toks[i+2]
        |                  for i in range(1, greatest(len(toks)-1, 1))]))
        |                 AS DOUBLE) / (len(toks) - 2) AS frac
        |    FROM t WHERE len(toks) >= 3)
        |  WHERE frac > 0.05),
        |base AS (
        |  SELECT doc_id, doc_id % 32 AS shard, n_tokens FROM clean
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |    AND doc_id NOT IN (SELECT doc_id FROM repetitive)),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (
        |              PARTITION BY shard ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before
        |  FROM base)
        |SELECT doc_id, shard,
        |       CAST(cum_before // 512 AS BIGINT) AS seq_id,
        |       CAST(cum_before % 512 AS BIGINT) AS offset,
        |       CAST(n_tokens AS INT) AS n_tokens
        |FROM c ORDER BY doc_id""".stripMargin
  )
}
