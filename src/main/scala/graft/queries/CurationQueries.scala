package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.queries.SqlFragments._

/** Driver queries for training-data curation: decontamination,
  * curriculum, mixtures, sampling, sharding, the multimodal audit and the
  * composed (full and incremental) curate pipeline. Each body or oracle
  * sits here; [[Registry]] links them. */
object CurationQueries {

  /** X32 benchmark decontamination (word-3-gram overlap vs the
    * doc_id%20==0 benchmark slice; broadcast semi-join). */
  val decontaminationSql: String =
    s"""WITH t0 AS (
      |  SELECT doc_id, lang, $toksSql AS tk FROM documents
      |), d AS (
      |  SELECT doc_id, lang, list_distinct($trigramsFromTkSql) AS grams FROM t0
      |), gx AS (
      |  SELECT doc_id, lang, unnest(grams) AS gm FROM d
      |), bench AS (
      |  SELECT DISTINCT gm FROM gx WHERE doc_id % 20 = 0
      |), m AS (
      |  SELECT gx.doc_id, count(*) AS n_matched
      |  FROM gx JOIN bench USING (gm) WHERE gx.doc_id % 20 <> 0
      |  GROUP BY gx.doc_id
      |), p AS (
      |  SELECT d.lang,
      |    CASE WHEN len(d.grams) = 0 THEN 0.0
      |         ELSE CAST(coalesce(m.n_matched, 0) AS DOUBLE) / len(d.grams) END AS frac
      |  FROM d LEFT JOIN m ON d.doc_id = m.doc_id
      |  WHERE d.doc_id % 20 <> 0
      |)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN frac >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  round(CAST(sum(CAST(frac AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_overlap,
      |  round(max(frac), 6) AS max_overlap
      |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  /** X33 quality-decile curriculum sampling (per-lang ntile + poly-hash
    * deterministic keep). */
  val curriculumDecilesSql: String =
    s"""WITH raw AS (
      |  SELECT doc_id, lang,
      |    CAST(len($toksSql) AS DOUBLE) AS ntok,
      |    CAST(len($contentToksSql) AS DOUBLE) AS ncont,
      |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS chars
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, lang,
      |    0.4 * least(1.0, ntok / 50.0)
      |    + 0.3 * (1.0 - (CASE WHEN ntok = 0.0 THEN 1.0 ELSE 1.0 - ncont / ntok END))
      |    + 0.3 * least(1.0, (CASE WHEN ntok = 0.0 THEN 0.0 ELSE chars / ntok END) / 8.0) AS score
      |  FROM raw
      |), d AS (
      |  SELECT lang, doc_id, score,
      |    CAST(ntile(10) OVER (PARTITION BY lang ORDER BY score, doc_id) AS INTEGER) AS decile
      |  FROM s
      |)
      |SELECT lang, decile, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN (${ph("CAST(doc_id AS VARCHAR)")}) % 10 < decile
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  round(CAST(sum(CAST(score AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_score
      |FROM d GROUP BY lang, decile ORDER BY lang, decile""".stripMargin

  /** X34 domain-mixture reweighting (uniform target, capped weights). */
  val mixtureWeightsSql: String =
    """WITH c AS (
      |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
      |), t AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS tot, count(*) AS nsrc FROM c
      |)
      |SELECT source, n_docs,
      |  round(CAST(n_docs AS DOUBLE) / tot * 100, 6) AS share_pct,
      |  round(least(3.0, (1.0 / nsrc) / (CAST(n_docs AS DOUBLE) / tot)), 6) AS mix_weight,
      |  CAST(floor(n_docs * least(3.0, (1.0 / nsrc) / (CAST(n_docs AS DOUBLE) / tot))) AS BIGINT) AS planned_n
      |FROM c, t ORDER BY source""".stripMargin

  /** X35 boilerplate word-bigram stats (df > 25% of docs ⇒ boilerplate). */
  val boilerplateStatsSql: String =
    s"""WITH t0 AS (
      |  SELECT doc_id, lang, $toksSql AS tk FROM documents
      |), gx AS (
      |  SELECT doc_id, lang, unnest($bigramsFromTkSql) AS gm FROM t0
      |), nd AS (
      |  SELECT count(*) AS ndocs FROM documents
      |), b AS (
      |  SELECT gm FROM (
      |    SELECT gm, count(*) AS df FROM (SELECT DISTINCT doc_id, gm FROM gx) GROUP BY gm
      |  ), nd WHERE df > 0.25 * ndocs
      |), p AS (
      |  SELECT gx.doc_id, gx.lang,
      |    CAST(sum(CASE WHEN b.gm IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*) AS ratio
      |  FROM gx LEFT JOIN b ON gx.gm = b.gm
      |  GROUP BY gx.doc_id, gx.lang
      |)
      |SELECT lang, count(*) AS n_docs,
      |  round(CAST(sum(CAST(ratio AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_boiler_ratio,
      |  CAST(sum(CASE WHEN ratio > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  /** X36 top-5 TF-IDF terms per language (distinct+count df, no Expand). */
  val tfidfTopTermsSql: String =
    s"""WITH terms AS (
      |  SELECT doc_id, lang, unnest($contentToksSql) AS term FROM documents
      |), tf1 AS (
      |  SELECT lang, term, count(*) AS tf FROM terms GROUP BY lang, term
      |), df1 AS (
      |  SELECT lang, term, count(*) AS df
      |  FROM (SELECT DISTINCT lang, term, doc_id FROM terms) GROUP BY lang, term
      |), ld AS (
      |  SELECT lang, count(*) AS n_lang_docs FROM documents GROUP BY lang
      |), s AS (
      |  SELECT tf1.lang, tf1.term, tf1.tf, df1.df,
      |    round(tf1.tf * ln(CAST(ld.n_lang_docs AS DOUBLE) / df1.df), 6) AS tfidf
      |  FROM tf1
      |  JOIN df1 ON tf1.lang = df1.lang AND tf1.term = df1.term
      |  JOIN ld ON tf1.lang = ld.lang
      |), r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
      |  FROM s
      |)
      |SELECT lang, rnk, term, tf, df, tfidf FROM r WHERE rnk <= 5
      |ORDER BY lang, rnk""".stripMargin

  /** X37 token-budget sequence-packing stats (512-token packs). */
  val packingStatsSql: String =
    s"""WITH d AS (
      |  SELECT lang, doc_id, len($toksSql) AS ntok FROM documents
      |), c AS (
      |  SELECT lang, doc_id, ntok,
      |    sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d
      |), pk AS (
      |  SELECT lang,
      |    CAST(floor(CAST(cum - ntok AS DOUBLE) / 512) AS BIGINT) AS pack,
      |    count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS pack_tokens
      |  FROM c GROUP BY 1, 2
      |)
      |SELECT lang, count(*) AS n_packs,
      |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(sum(n_docs) AS DOUBLE) / count(*) AS avg_docs_per_pack,
      |  round(CAST(sum(pack_tokens) AS DOUBLE) / (count(*) * 512.0), 6) AS avg_fill,
      |  max(pack_tokens) AS max_pack_tokens
      |FROM pk GROUP BY lang ORDER BY lang""".stripMargin

  /** X87 deterministic weighted sampling ([[Corpus.weightedSample]]):
    * top-20 documents by the Efraimidis–Spirakis key, weight = n_chars. */
  val weightedSampleSql: String =
    """WITH s AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
      |    round(ln(CAST((doc_id * 1103515245 + 12345) % 2147483647 + 1 AS DOUBLE)
      |      / 2147483648.0) / CAST(n_chars AS DOUBLE), 9) AS es_key
      |  FROM documents
      |)
      |SELECT doc_id, source, w, es_key FROM s
      |ORDER BY es_key DESC, doc_id LIMIT 20""".stripMargin

  /** X93 temperature-scaled source mixing ([[Corpus.temperatureMixture]]):
    * p_i ∝ √n_i sampling shares and per-source upsample factors. */
  val temperatureMixtureSql: String =
    """WITH c AS (
      |  SELECT source, count(*) AS n_docs,
      |    sqrt(CAST(count(*) AS DOUBLE)) AS scaled
      |  FROM documents GROUP BY source
      |), t AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS tot,
      |    sum(CAST(scaled AS DECIMAL(28,12))) AS stot
      |  FROM c
      |)
      |SELECT c.source, c.n_docs,
      |  round((CAST(c.n_docs AS DOUBLE) / tot) * 100, 6) AS raw_share_pct,
      |  round((c.scaled / CAST(stot AS DOUBLE)) * 100, 6) AS temp_share_pct,
      |  round((c.scaled / CAST(stot AS DOUBLE)) / (CAST(c.n_docs AS DOUBLE) / tot), 6)
      |    AS upsample_factor
      |FROM c, t ORDER BY c.source""".stripMargin

  /** X92 pairwise source-overlap matrix ([[Corpus.sourceOverlap]]):
    * exact bigram-vocabulary Jaccard per source pair, full grid. */
  val sourceOverlapSql: String =
    s"""WITH t0 AS (
      |  SELECT source, $toksSql AS tk FROM documents
      |), gr AS (
      |  SELECT DISTINCT source, u.g AS g
      |  FROM t0, UNNEST($bigramsFromTkSql) AS u(g)
      |), sz AS (
      |  SELECT source, count(*) AS n FROM gr GROUP BY source
      |), i AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
      |  FROM gr a JOIN gr b ON a.g = b.g AND a.source < b.source
      |  GROUP BY a.source, b.source
      |)
      |SELECT sa.source AS source_a, sb.source AS source_b,
      |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
      |  CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
      |  round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
      |    / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS jaccard
      |FROM sz sa JOIN sz sb ON sa.source < sb.source
      |LEFT JOIN i ON i.source_a = sa.source AND i.source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin

  /** X101 class-balanced downsample audit
    * ([[graft.operators.Corpus.balancedSample]]): at most 15 docs per
    * source, selected by the engine-portable Knuth multiplicative key, so
    * the oracle re-derives the EXACT kept set (kept_id_sum pins it). */
  // q100: the kept set re-derived exactly — Knuth multiplicative key
  // is pure 64-bit integer arithmetic, identical in both engines, so
  // kept_id_sum pins WHICH rows were selected, not just how many.
  // The id folds through pmod(., 2^31) BEFORE the multiply (identity
  // for ids < 2^31, i.e. every id here) so the product can never
  // exceed 2^63-1: without the fold, ids past ~3.47e9 would silently
  // wrap in Spark but raise on BIGINT overflow in DuckDB.
  val balancedSampleSql: String =
    """WITH k AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY (((doc_id % 2147483648) + 2147483648) % 2147483648
      |                * 2654435761) % 4294967296, doc_id) AS rn
      |  FROM documents
      |)
      |SELECT source AS class,
      |  CAST(count(*) AS BIGINT) AS n_before,
      |  CAST(count(CASE WHEN rn <= 15 THEN 1 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rn <= 15 THEN doc_id END) AS BIGINT) AS kept_id_sum
      |FROM k GROUP BY source ORDER BY class""".stripMargin

  /** X109 UniMax epoch-capped mixture allocation
    * ([[graft.operators.Corpus.unimaxAllocation]]): the token budget is
    * 1.25× the corpus, no source may repeat past 1.4 epochs — small
    * sources bind at their cap, the rest split the remainder at the
    * water level. The oracle replays the closed-form water-filling
    * (sorted-prefix f(r) ≤ budget test) independently in SQL. */
  // q106: UniMax water-filling replayed in SQL — exact DECIMAL caps and
  // prefix sums, the bound test f(r) = pfx + cap·(S−r) ≤ budget per
  // row (f is non-decreasing so the test marks the bound prefix), and
  // the water level as the single double division rounded to 6.
  val unimaxSql: String =
    s"""WITH tc AS (
       |  SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |), c AS (
       |  SELECT source, n_tokens,
       |    CAST(CAST(n_tokens AS DECIMAL(20,4)) * CAST(1.4 AS DECIMAL(8,4)) AS DECIMAL(24,4)) AS cap
       |  FROM tc
       |), t AS (
       |  SELECT CAST(CAST(sum(n_tokens) AS DECIMAL(24,4)) * CAST(1.25 AS DECIMAL(8,4)) AS DECIMAL(28,4)) AS budget,
       |    count(*) AS s FROM tc
       |), r AS (
       |  SELECT c.source, c.n_tokens, c.cap, t.budget, t.s,
       |    CAST(row_number() OVER (ORDER BY c.cap, c.source) AS BIGINT) AS rk,
       |    sum(c.cap) OVER (ORDER BY c.cap, c.source ROWS UNBOUNDED PRECEDING) AS pfx
       |  FROM c, t
       |), b AS (
       |  SELECT *, (pfx + cap * (s - rk)) <= budget AS bound FROM r
       |), l AS (
       |  SELECT coalesce(sum(CASE WHEN bound THEN cap END), 0) AS bp,
       |    CAST(sum(CASE WHEN bound THEN 1 ELSE 0 END) AS BIGINT) AS j FROM b
       |), a AS (
       |  SELECT source, n_tokens, bound,
       |    CASE WHEN bound THEN CAST(cap AS DOUBLE)
       |         ELSE round(CAST(budget - bp AS DOUBLE) / (s - j), 6) END AS alloc_tokens
       |  FROM b, l
       |)
       |SELECT source, n_tokens, bound, alloc_tokens,
       |  CASE WHEN n_tokens > 0 THEN round(alloc_tokens / n_tokens, 6) ELSE 0.0 END AS epochs
       |FROM a ORDER BY source""".stripMargin

  /** X114 reproducible training-shard audit
    * ([[graft.operators.Corpus.shardAudit]]): the deterministic Knuth
    * scramble assigns every doc to one of 16 shards; the audit pins each
    * shard's membership with an id-sum checksum, so the oracle's
    * re-derived assignment must agree doc-for-doc. */
  // q110: the Knuth scramble re-derived in SQL (fold into [0,2^31)
  // before the multiply — products stay under 2^63 in both engines);
  // the id_sum checksum makes any misrouted doc a hash mismatch.
  val shardAuditSql: String =
    s"""WITH a AS (
      |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tok,
      |    (((doc_id % 2147483648) * 2654435761) % 4294967296) % 16 AS shard
      |  FROM documents
      |)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM a GROUP BY shard ORDER BY shard""".stripMargin

  /** Multimodal pipeline audit (M-family,
    * [[graft.multimodal.Multimodal]]): a deterministic media table
    * synthesized from the documents corpus (payload = text bytes,
    * media_type cycling image/audio/video) runs the full binary-column
    * pipeline — batched stub decode via mapPartitions, perceptual
    * difference-hash, pigeonhole-banded near-dup pairs blocked by
    * media_type — and reports one audit row per media_type: assets,
    * distinct fingerprints, near-dup pairs, and an ORDER-FREE content
    * checksum (bit_xor of the perceptual hashes). No SQL oracle (the
    * decode stub is JVM-side by design — the documented class of non-SQL
    * operators), so the driver records a rows-only check; the checksum
    * column makes those rows content-bearing anyway: MultimodalSpec pins
    * the full sf0.01 output (counts AND phash_xor) as golden values, the
    * deterministic-decode equivalent of a hash gate. Exact-dup documents
    * collapse to identical fingerprints, so the pair count is driven by
    * the corpus's real duplicate mass, not noise. */
  def mediaPipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.documentsSpread(spark, dir).select(
      col("doc_id").cast("string").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("content"))
    val feats = graft.multimodal.Multimodal.extractFeatures(media, dim = 64)
    val hashed = graft.multimodal.Multimodal.perceptualHash(feats)
      .localCheckpoint(false) // decode once: feeds both the audit and the pair join
    val pairs = graft.operators.Dedup.simhashNearDupPairs(
      hashed, "asset_id", "phash", blockCols = Seq("media_type"),
      maxDist = 4, bits = 63)
    val perType = hashed.groupBy("media_type")
      .agg(count(lit(1)).as("n_assets"),
        countDistinct(col("phash")).as("n_fingerprints"),
        expr("bit_xor(phash)").as("phash_xor"))
    val pairCounts = pairs.groupBy("media_type")
      .agg(count(lit(1)).as("n_neardup_pairs"))
    perType.join(pairCounts, Seq("media_type"), "left")
      .select(col("media_type"), col("n_assets"), col("n_fingerprints"),
        coalesce(col("n_neardup_pairs"), lit(0L)).as("n_neardup_pairs"),
        col("phash_xor"))
      .orderBy("media_type")
  }

  /** X129 composed end-to-end curation pipeline
    * ([[graft.pipeline.CuratePipeline]]): exact dedup → capped near-dup
    * best-keep → Gopher gate → benchmark decontamination → curriculum
    * sample → UniMax mixture → training shards, emitting one
    * (n_docs, n_tokens, id_sum) accounting row per stage. The oracle
    * replays the ENTIRE keep-decision chain in SQL, so the hash pins
    * every stage's exact kept multiset. */
  def curatePipelineQuery(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.CuratePipeline.accounting(
      graft.pipeline.CuratePipeline.stages(
        Tables.documentsSpread(spark, dir).select(
          col("doc_id"), col("text"), col("lang"), col("source"))))

  // q122: the composed curate pipeline's ENTIRE keep-decision chain
  // re-derived in SQL — exact dedup (min-id per normalized text), the
  // capped minhash chain + recursive clustering + best-keep argmax
  // (the q19/q108 CTEs over the exact survivors), the q121 Gopher
  // rules, q57's trigram decontamination (benchmark split defined on
  // the RAW corpus), q58's curriculum keep, q106's UniMax water-fill
  // applied via the copy-explode device, and q110's Knuth shard hash.
  // One accounting row per stage; the shards row weights each id by
  // (shard+1), so one misrouted doc anywhere breaks the hash.
  val curatePipelineSql: String = {
    val phCopy = ph("CAST(doc_id AS VARCHAR) || '#' || CAST(copy AS VARCHAR)")
    s"""WITH RECURSIVE qsrc AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source FROM documents
      |), ${curateChainCtes("", "qsrc")},
      |mix AS (
      |  SELECT doc_id, source, n_tok, u.copy AS copy FROM (
      |    SELECT c.doc_id, c.source, c.n_tok, ue.epochs
      |    FROM cur c JOIN ue USING (source)
      |  ) x, UNNEST(range(1, CAST(ceil(x.epochs) AS BIGINT) + 1)) AS u(copy)
      |  WHERE u.copy <= floor(x.epochs)
      |     OR CAST(($phCopy) % 1000003 AS DOUBLE) / 1000003.0 < x.epochs - floor(x.epochs)
      |), ${curateAccountingSql("")}""".stripMargin
  }

  /** X130 incremental curate path
    * ([[graft.pipeline.CuratePipeline.incrementalStages]]): the full
    * chain runs on the doc_id%100≠7 side to derive the frozen
    * parameters, then the 1% delta replays the incremental
    * keep-decision semantics against them — banked norms win exact,
    * the combined-population banded index scores only delta-touching
    * pairs (existing docs win cross contests), frozen decile bounds
    * and UniMax epochs grade the tail stages. The oracle re-derives
    * BOTH sides in one SQL statement. */
  def incrementalCurateQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir).select(
      col("doc_id"), col("text"), col("lang"), col("source"))
    // bankNormFp: the full side's exact stage carries its 8-byte
    // fingerprints, so the banked-norms derivation is a column select
    val cfg = graft.pipeline.CurateConfig(bankNormFp = true)
    // the frozen derivation needs nothing past curriculum — upTo skips
    // materializing the full side's mixture and shards entirely; the
    // neardup stage's signature side channel derives the frozen index by
    // id filter instead of a second survivor shingle+minhash pass
    val (fullFrames, fullSigs) = graft.pipeline.CuratePipeline.stagesWithSigs(
      docs.filter(pmod(col("doc_id"), lit(100)) =!= 7), cfg,
      graft.pipeline.CuratePipeline.DefaultBarriers, upTo = "curriculum")
    val frozen = graft.pipeline.CuratePipeline.frozenFromStages(
      fullFrames, cfg, neardupSigs = fullSigs)
    graft.pipeline.CuratePipeline.accounting(
      graft.pipeline.CuratePipeline.incrementalStages(
        docs.filter(pmod(col("doc_id"), lit(100)) === 7), frozen, cfg))
  }

  // q123: the INCREMENTAL curate path replayed end to end — the full
  // chain runs over the 99% side (doc_id%100<>7) to derive the frozen
  // parameters exactly as the oracle-proven q122 chain does, then the
  // 1% delta side replays runIncremental's keep-decision semantics
  // against them: banked norms win exact, the combined-population
  // banded chain scores only delta-touching pairs (existing docs win
  // cross contests, delta-delta contests cluster + best-keep), frozen
  // decile bounds grade curriculum (strictly-below count + 1), frozen
  // epochs drive the mixture (unseen sources 1.0), identical shard
  // routing. One accounting row per delta stage.
  val incrementalCurateSql: String = {
    val phCopy = ph("CAST(doc_id AS VARCHAR) || '#' || CAST(copy AS VARCHAR)")
    s"""WITH RECURSIVE fsrc AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 100 <> 7
      |), dsrc AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 100 = 7
      |), ${curateChainCtes("f", "fsrc")},
      |db2 AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source,
      |    CAST(len($toksSql) AS BIGINT) AS n_tok,
      |    $normTextSql AS norm
      |  FROM dsrc
      |), dexact AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source, n_tok FROM (
      |    SELECT d.*, min(d.doc_id) OVER (PARTITION BY d.norm) AS _k
      |    FROM db2 d LEFT JOIN (
      |      SELECT DISTINCT (${ph("norm")}) * 2147483648
      |        + (${ph2("norm")}) AS fp FROM fb2) b
      |      ON (${ph("d.norm")}) * 2147483648 + (${ph2("d.norm")}) = b.fp
      |    WHERE b.fp IS NULL
      |  ) WHERE doc_id = _k
      |), cmb AS MATERIALIZED (
      |  SELECT doc_id, text FROM fnd UNION ALL SELECT doc_id, text FROM dexact
      |), ct0 AS (
      |  SELECT doc_id, $toksSql AS tk FROM cmb
      |), ctoks AS MATERIALIZED (
      |  SELECT doc_id, list_distinct($bigramsFromTkSql) AS sh FROM ct0
      |), ${minhashChainCtes("ctoks", "c")},
      |dids AS (SELECT doc_id FROM dexact),
      |dflag AS (
      |  SELECT p.id_a, p.id_b,
      |    (a.doc_id IS NOT NULL) AS ina, (b.doc_id IS NOT NULL) AS inb
      |  FROM (SELECT id_a, id_b FROM cverified WHERE jac >= 0.5) p
      |  LEFT JOIN dids a ON p.id_a = a.doc_id
      |  LEFT JOIN dids b ON p.id_b = b.doc_id
      |  WHERE a.doc_id IS NOT NULL OR b.doc_id IS NOT NULL
      |), ddropex AS (
      |  SELECT DISTINCT CASE WHEN ina THEN id_a ELSE id_b END AS doc_id
      |  FROM dflag WHERE ina <> inb
      |), ddpairs AS (SELECT id_a, id_b FROM dflag WHERE ina AND inb),
      |de AS (
      |  SELECT id_a AS id, id_b AS nbr FROM ddpairs
      |  UNION
      |  SELECT id_b AS id, id_a AS nbr FROM ddpairs
      |), dreach(id, r) AS (
      |  SELECT DISTINCT id, id AS r FROM de
      |  UNION
      |  SELECT de.id, dreach.r FROM de JOIN dreach ON de.nbr = dreach.id
      |), dcl AS (
      |  SELECT id, min(r) AS cluster_id FROM dreach GROUP BY id
      |), dsurv0 AS (
      |  SELECT x.* FROM dexact x LEFT JOIN ddropex l USING (doc_id)
      |  WHERE l.doc_id IS NULL
      |), dwnd AS (
      |  SELECT dcl.cluster_id, x.doc_id,
      |    row_number() OVER (PARTITION BY dcl.cluster_id
      |      ORDER BY x.n_tok DESC, x.doc_id ASC) AS rk
      |  FROM dcl JOIN dsurv0 x ON x.doc_id = dcl.id
      |), dlosers AS (SELECT doc_id FROM dwnd WHERE rk > 1),
      |dnd AS MATERIALIZED (
      |  SELECT x.doc_id, x.text, x.lang, x.source, x.n_tok
      |  FROM dsurv0 x LEFT JOIN dlosers l USING (doc_id)
      |  WHERE l.doc_id IS NULL
      |), ${gopherGateCtes("d")}
      |), drawg AS MATERIALIZED (
      |  SELECT doc_id, list_distinct($trigramsFromTkSql) AS grams
      |  FROM (SELECT doc_id, $toksSql AS tk FROM dsrc)
      |), dbench AS (
      |  SELECT DISTINCT gm FROM (
      |    SELECT unnest(grams) AS gm FROM drawg WHERE doc_id % 20 = 0)
      |), allbench AS MATERIALIZED (
      |  SELECT gm FROM fbench UNION SELECT gm FROM dbench
      |), dqgr AS (
      |  SELECT q.doc_id, q.text, q.lang, q.source, q.n_tok, g.grams
      |  FROM dquality q JOIN drawg g USING (doc_id)
      |), dmtc AS (
      |  SELECT doc_id, count(*) AS n_matched FROM (
      |    SELECT doc_id, unnest(grams) AS gm FROM dqgr
      |  ) JOIN allbench USING (gm) GROUP BY doc_id
      |), ddec AS MATERIALIZED (
      |  SELECT q.doc_id, q.text, q.lang, q.source, q.n_tok
      |  FROM dqgr q LEFT JOIN dmtc USING (doc_id)
      |  WHERE q.doc_id % 20 <> 0
      |    AND (CASE WHEN len(q.grams) = 0 THEN 0.0
      |         ELSE CAST(coalesce(n_matched, 0) AS DOUBLE) / len(q.grams) END) < 0.2
      |), fbounds AS (
      |  SELECT lang, max(score) AS hi FROM fcur2 WHERE decile < 10
      |  GROUP BY lang, decile
      |), dscore AS (
      |  SELECT doc_id, lang, source, n_tok,
      |    0.4 * least(1.0, CAST(len($toksSql) AS DOUBLE) / 50.0)
      |    + 0.3 * (1.0 - (CASE WHEN len($toksSql) = 0 THEN 1.0
      |        ELSE 1.0 - CAST(len($contentToksSql) AS DOUBLE) / len($toksSql) END))
      |    + 0.3 * least(1.0, (CASE WHEN len($toksSql) = 0 THEN 0.0
      |        ELSE CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len($toksSql) END) / 8.0) AS score
      |  FROM ddec
      |), dcnt AS (
      |  SELECT s.doc_id, s.source, s.n_tok, 1 + count(b.hi) AS decile
      |  FROM dscore s LEFT JOIN fbounds b ON b.lang = s.lang AND b.hi < s.score
      |  GROUP BY s.doc_id, s.source, s.n_tok
      |), dcur AS MATERIALIZED (
      |  SELECT doc_id, source, n_tok FROM dcnt
      |  WHERE (${ph("CAST(doc_id AS VARCHAR)")}) % 10 < decile
      |), dmix AS (
      |  SELECT doc_id, source, n_tok, u.copy AS copy FROM (
      |    SELECT c.doc_id, c.source, c.n_tok, coalesce(ue.epochs, 1.0) AS epochs
      |    FROM dcur c LEFT JOIN fue ue USING (source)
      |  ) x, UNNEST(range(1, GREATEST(CAST(ceil(x.epochs) AS BIGINT), 1) + 1)) AS u(copy)
      |  WHERE u.copy <= floor(x.epochs)
      |     OR CAST(($phCopy) % 1000003 AS DOUBLE) / 1000003.0 < x.epochs - floor(x.epochs)
      |), ${curateAccountingSql("d")}""".stripMargin
  }
}
