package graft
package queries

import graft.functions.{Hashes, TextFunctions => TF}
import graft.operators.Dedup

/** DuckDB SQL fragments that more than one family's oracles share:
  * tokenization, n-gram lists, the poly-hash, the capped MinHash chain
  * and the composed curate chain. Each replays the Spark-side operator
  * it is named for, so the oracles that use it cannot drift apart. */
private[queries] object SqlFragments {

  val stopwordsSqlList: String =
    TF.stopwords.map(s => s"'$s'").mkString("(", ", ", ")")

  val gopherStopSql: String =
    graft.operators.TextAnalysis.GopherStopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")

  val toksSql = """list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)"""
  val contentToksSql = s"list_filter($toksSql, u -> u NOT IN $stopwordsSqlList)"
  val toksLowerSql = """list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0)"""
  val normTextSql = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""
  def ph(e: String): String = Hashes.polyHashSql(e)
  def ph2(e: String): String = Hashes.polyHash2Sql(e)

  /** The minhash chain hsh→sig→bands→(bucket cap)→cand→verified over a
    * (doc_id, sh) relation named `toksRel`, every CTE name prefixed with
    * `p` so the chain can run twice in one query (q103 runs it over
    * collapsed representatives). The `HAVING count(*) <= maxBucket`
    * bucket filter mirrors [[Dedup.candidatePairs]]'s skip-and-flag cap
    * exactly — capped Spark pipelines stay hash-checked at every sf. */
  def minhashChainCtes(toksRel: String, p: String): String = {
    val (k, bands) = (12, 3)
    val r = k / bands
    val sigExprs = (0 until k)
      .map(i => s"list_min(list_transform(hs, h -> (h * ${Dedup.affineA(i)} + ${Dedup.affineB(i)}) % ${Hashes.PolyMod})) AS m$i")
      .mkString(",\n    ")
    val bandSelects = (0 until bands)
      .map(b => s"SELECT doc_id, $b AS band_id, concat_ws(',', ${(0 until r).map(j => s"m${r * b + j}").mkString(", ")}) AS band_key FROM ${p}sig")
      .mkString("\n  UNION ALL\n  ")
    s"""${p}hsh AS (
       |  SELECT doc_id, list_transform(sh, s -> ${ph("s")}) AS hs FROM $toksRel
       |), ${p}sig AS (
       |  SELECT doc_id,
       |    $sigExprs
       |  FROM ${p}hsh
       |), ${p}bands AS (
       |  $bandSelects
       |), ${p}bok AS (
       |  SELECT band_id, band_key FROM ${p}bands
       |  GROUP BY band_id, band_key HAVING count(*) <= ${Dedup.DefaultMaxBucket}
       |), ${p}bf AS (
       |  SELECT b.doc_id, b.band_id, b.band_key
       |  FROM ${p}bands b JOIN ${p}bok USING (band_id, band_key)
       |), ${p}cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ${p}bf a JOIN ${p}bf b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |), ${p}verified AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
       |      / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) AS jac
       |  FROM ${p}cand c
       |  JOIN $toksRel ta ON ta.doc_id = c.id_a
       |  JOIN $toksRel tb ON tb.doc_id = c.id_b
       |)""".stripMargin
  }

  /** The minhash pipeline's CTE chain (ends with `verified(id_a,id_b,jac)`),
    * shared by the q19, q54 and q99 oracles. */
  def minhashCtesSql: String =
    s"""t0 AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), toks AS (
       |  SELECT doc_id, list_distinct($bigramsFromTkSql) AS sh FROM t0
       |), ${minhashChainCtes("toks", "")}""".stripMargin

  /** The Gopher quality gate over `${p}nd`: per-doc signals as
    * `${p}gsig`, the passing docs as `${p}quality` (q121's rules with a
    * stopword floor of 1). Shared by the full and the incremental curate
    * chains; ends inside the `${p}quality` CTE, before its closing paren. */
  def gopherGateCtes(p: String): String =
    s"""${p}gsig AS (
      |  SELECT doc_id, text, lang, source, n_tok,
      |    CAST(len($toksLowerSql) AS BIGINT) AS gntok,
      |    CAST(list_aggregate(list_transform($toksLowerSql, t -> length(t)), 'sum') AS BIGINT) AS gchars,
      |    CAST(len(list_filter($toksLowerSql, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS galpha,
      |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS gsymbols,
      |    CAST(len(list_intersect(list_distinct($toksLowerSql), $gopherStopSql)) AS BIGINT) AS gstops
      |  FROM ${p}nd
      |), ${p}quality AS (
      |  SELECT doc_id, text, lang, source, n_tok FROM ${p}gsig
      |  WHERE gntok >= 5 AND gntok <= 100000
      |    AND gntok > 0 AND CAST(gchars AS DOUBLE) / gntok >= 3.0
      |    AND CAST(gchars AS DOUBLE) / gntok <= 10.0
      |    AND CAST(galpha AS DOUBLE) >= 0.8 * CAST(gntok AS DOUBLE)
      |    AND CAST(gsymbols AS DOUBLE) <= 0.1 * CAST(gntok AS DOUBLE)
      |    AND gstops >= 1""".stripMargin

  /** The composed curate pipeline's full-run CTE chain (q122/q123) over
    * a (doc_id, text, lang, source) relation `srcRel` — MATERIALIZE it
    * at the call site: DuckDB inlines plain CTEs, so every reference
    * would otherwise re-open the parquet and a double chain (q123) can
    * exhaust the process fd limit — every CTE name prefixed with `p` so the chain
    * can appear twice in one statement (q123 runs it over the full side
    * and replays the delta side against its frozen outputs). Ends at:
    * {p}b2 (raw + n_tok + norm), {p}exact, {p}nd (near-dup survivors),
    * {p}quality, {p}rawg/{p}bench (gram sets), {p}dec, {p}cur2 (scored
    * deciles), {p}cur (curriculum keeps), {p}ue (UniMax epochs). Must be
    * placed inside a WITH RECURSIVE ({p}reach is recursive). */
  def curateChainCtes(p: String, srcRel: String): String = {
    s"""${p}b2 AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source,
      |    CAST(len($toksSql) AS BIGINT) AS n_tok,
      |    $normTextSql AS norm
      |  FROM $srcRel
      |), ${p}exact AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source, n_tok FROM (
      |    SELECT *, min(doc_id) OVER (PARTITION BY norm) AS _k FROM ${p}b2
      |  ) WHERE doc_id = _k
      |), ${p}ndt0 AS (
      |  SELECT doc_id, $toksSql AS tk FROM ${p}exact
      |), ${p}ndtoks AS MATERIALIZED (
      |  SELECT doc_id, list_distinct($bigramsFromTkSql) AS sh FROM ${p}ndt0
      |), ${minhashChainCtes(s"${p}ndtoks", s"${p}n")},
      |${p}pairs AS (SELECT id_a, id_b FROM ${p}nverified WHERE jac >= 0.5),
      |${p}e AS (
      |  SELECT id_a AS id, id_b AS nbr FROM ${p}pairs
      |  UNION
      |  SELECT id_b AS id, id_a AS nbr FROM ${p}pairs
      |), ${p}reach(id, r) AS (
      |  SELECT DISTINCT id, id AS r FROM ${p}e
      |  UNION
      |  SELECT ${p}e.id, ${p}reach.r FROM ${p}e JOIN ${p}reach ON ${p}e.nbr = ${p}reach.id
      |), ${p}cl AS (
      |  SELECT id, min(r) AS cluster_id FROM ${p}reach GROUP BY id
      |), ${p}wnd AS (
      |  SELECT ${p}cl.cluster_id, x.doc_id,
      |    row_number() OVER (PARTITION BY ${p}cl.cluster_id
      |      ORDER BY x.n_tok DESC, x.doc_id ASC) AS rk
      |  FROM ${p}cl JOIN ${p}exact x ON x.doc_id = ${p}cl.id
      |), ${p}losers AS (SELECT doc_id FROM ${p}wnd WHERE rk > 1),
      |${p}nd AS MATERIALIZED (
      |  SELECT x.doc_id, x.text, x.lang, x.source, x.n_tok
      |  FROM ${p}exact x LEFT JOIN ${p}losers l USING (doc_id)
      |  WHERE l.doc_id IS NULL
      |), ${gopherGateCtes(p)}
      |), ${p}rawg AS MATERIALIZED (
      |  SELECT doc_id, list_distinct($trigramsFromTkSql) AS grams
      |  FROM (SELECT doc_id, $toksSql AS tk FROM $srcRel)
      |), ${p}bench AS MATERIALIZED (
      |  SELECT DISTINCT gm FROM (
      |    SELECT unnest(grams) AS gm FROM ${p}rawg WHERE doc_id % 20 = 0)
      |), ${p}qgr AS (
      |  SELECT q.doc_id, q.text, q.lang, q.source, q.n_tok, g.grams
      |  FROM ${p}quality q JOIN ${p}rawg g USING (doc_id)
      |), ${p}mtc AS (
      |  SELECT doc_id, count(*) AS n_matched FROM (
      |    SELECT doc_id, unnest(grams) AS gm FROM ${p}qgr
      |  ) JOIN ${p}bench USING (gm) GROUP BY doc_id
      |), ${p}dec AS MATERIALIZED (
      |  SELECT q.doc_id, q.text, q.lang, q.source, q.n_tok
      |  FROM ${p}qgr q LEFT JOIN ${p}mtc USING (doc_id)
      |  WHERE q.doc_id % 20 <> 0
      |    AND (CASE WHEN len(q.grams) = 0 THEN 0.0
      |         ELSE CAST(coalesce(n_matched, 0) AS DOUBLE) / len(q.grams) END) < 0.2
      |), ${p}cur0 AS (
      |  SELECT doc_id, lang, source, n_tok,
      |    CAST(len($toksSql) AS DOUBLE) AS sntok,
      |    CAST(len($contentToksSql) AS DOUBLE) AS sncont,
      |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS schars
      |  FROM ${p}dec
      |), ${p}cur1 AS (
      |  SELECT doc_id, lang, source, n_tok,
      |    0.4 * least(1.0, sntok / 50.0)
      |    + 0.3 * (1.0 - (CASE WHEN sntok = 0.0 THEN 1.0 ELSE 1.0 - sncont / sntok END))
      |    + 0.3 * least(1.0, (CASE WHEN sntok = 0.0 THEN 0.0 ELSE schars / sntok END) / 8.0) AS score
      |  FROM ${p}cur0
      |), ${p}cur2 AS MATERIALIZED (
      |  SELECT doc_id, lang, source, n_tok, score,
      |    CAST(ntile(10) OVER (PARTITION BY lang ORDER BY score, doc_id) AS INTEGER) AS decile
      |  FROM ${p}cur1
      |), ${p}cur AS MATERIALIZED (
      |  SELECT doc_id, source, n_tok FROM ${p}cur2
      |  WHERE (${ph("CAST(doc_id AS VARCHAR)")}) % 10 < decile
      |), ${p}utc AS (
      |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM ${p}cur GROUP BY source
      |), ${p}uc AS (
      |  SELECT source, n_tokens,
      |    CAST(CAST(n_tokens AS DECIMAL(20,4)) * CAST(1.4 AS DECIMAL(8,4)) AS DECIMAL(24,4)) AS cap
      |  FROM ${p}utc
      |), ${p}ut AS (
      |  SELECT CAST(CAST(sum(n_tokens) AS DECIMAL(24,4)) * CAST(1.25 AS DECIMAL(8,4)) AS DECIMAL(28,4)) AS budget,
      |    count(*) AS s FROM ${p}utc
      |), ${p}ur AS (
      |  SELECT uc.source, uc.n_tokens, uc.cap, ut.budget, ut.s,
      |    CAST(row_number() OVER (ORDER BY uc.cap, uc.source) AS BIGINT) AS rk,
      |    sum(uc.cap) OVER (ORDER BY uc.cap, uc.source ROWS UNBOUNDED PRECEDING) AS pfx
      |  FROM ${p}uc uc, ${p}ut ut
      |), ${p}ub AS (
      |  SELECT *, (pfx + cap * (s - rk)) <= budget AS bound FROM ${p}ur
      |), ${p}ul AS (
      |  SELECT coalesce(sum(CASE WHEN bound THEN cap END), 0) AS bp,
      |    CAST(sum(CASE WHEN bound THEN 1 ELSE 0 END) AS BIGINT) AS j FROM ${p}ub
      |), ${p}ua AS (
      |  SELECT source, n_tokens,
      |    CASE WHEN bound THEN CAST(cap AS DOUBLE)
      |         ELSE round(CAST(budget - bp AS DOUBLE) / (s - j), 6) END AS alloc_tokens
      |  FROM ${p}ub ub, ${p}ul ul
      |), ${p}ue AS MATERIALIZED (
      |  SELECT source,
      |    CASE WHEN n_tokens > 0 THEN round(alloc_tokens / n_tokens, 6) ELSE 0.0 END AS epochs
      |  FROM ${p}ua
      |)""".stripMargin
  }

  /** DuckDB word-bigram list from a token-list column `tk`. */
  val bigramsFromTkSql =
    "list_transform(range(1, len(tk)), i -> tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1])"

  /** DuckDB word-trigram list from a token-list column `tk`. */
  val trigramsFromTkSql =
    "list_transform(range(1, len(tk) - 1), i -> tk[CAST(i AS INTEGER)] || ' ' || " +
      "tk[CAST(i AS INTEGER) + 1] || ' ' || tk[CAST(i AS INTEGER) + 2])"

  /** The curate chain's tail over `${p}mix`: q110's shard hash of (id,
    * copy) as `${p}shrd`, then one (n_docs, n_tokens, id_sum) accounting
    * row per stage over `${p}b2` … `${p}shrd`. The shards row weights each
    * id by (shard+1), so one misrouted doc anywhere breaks the hash. */
  def curateAccountingSql(p: String): String =
    s"""${p}shrd AS (
      |  SELECT doc_id, n_tok,
      |    ((((doc_id * 37 + copy) % 2147483648) * 2654435761) % 4294967296) % 16 AS shard
      |  FROM ${p}mix
      |)
      |SELECT * FROM (
      |  SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens,
      |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM ${p}b2
      |  UNION ALL SELECT CAST(1 AS INTEGER), 'exact', CAST(count(*) AS BIGINT),
      |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM ${p}exact
      |  UNION ALL SELECT CAST(2 AS INTEGER), 'neardup', CAST(count(*) AS BIGINT),
      |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM ${p}nd
      |  UNION ALL SELECT CAST(3 AS INTEGER), 'quality', CAST(count(*) AS BIGINT),
      |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM ${p}quality
      |  UNION ALL SELECT CAST(4 AS INTEGER), 'decontam', CAST(count(*) AS BIGINT),
      |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM ${p}dec
      |  UNION ALL SELECT CAST(5 AS INTEGER), 'curriculum', CAST(count(*) AS BIGINT),
      |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM ${p}cur
      |  UNION ALL SELECT CAST(6 AS INTEGER), 'mixture', CAST(count(*) AS BIGINT),
      |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM ${p}mix
      |  UNION ALL SELECT CAST(7 AS INTEGER), 'shards', CAST(count(*) AS BIGINT),
      |    CAST(coalesce(sum(n_tok), 0) AS BIGINT),
      |    CAST(coalesce(sum(doc_id * (shard + 1)), 0) AS BIGINT) FROM ${p}shrd
      |) ORDER BY stage_idx""".stripMargin
}
