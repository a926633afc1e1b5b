package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.operators.{Stats, TextAnalysis}
import graft.queries.SqlFragments._

/** Driver queries over document text: token and term statistics,
  * quality signals, language ID, PII counters, language-model and
  * distribution audits. Each body sits beside the DuckDB SQL that
  * [[Registry]] checks it against; an operator needing only a table
  * runs from the registry entry, with its SQL here. */
object TextQueries {

  /** A19 stopword-filtered top-20 terms (text_quality.py:394-492). */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    docs.select(explode(TF.contentTokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)
  }

  val topTermsSql: String =
    s"""WITH t AS (
      |  SELECT unnest(string_split_regex(text, '\\s+')) AS term FROM documents
      |)
      |SELECT term, count(*) AS n FROM t
      |WHERE length(term) > 0 AND term NOT IN $stopwordsSqlList
      |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin

  /** A16 text metrics per language (text_quality.py:39-156). */
  def textMetrics(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", TF.tokenCount(col("text")))
      .withColumn("n_chars_calc", length(col("text")))
    docs.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).cast("long").as("max_tokens"),
        sum(col("n_chars_calc")).as("total_chars"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        (sum(col("n_chars_calc")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy("lang")
  }

  val textMetricsSql: String =
    """WITH d AS (
      |  SELECT lang,
      |    len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS n_tokens,
      |    length(text) AS n_chars_calc
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  max(n_tokens) AS max_tokens,
      |  CAST(sum(n_chars_calc) AS BIGINT) AS total_chars,
      |  CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE) / count(*) AS avg_tokens,
      |  CAST(CAST(sum(n_chars_calc) AS BIGINT) AS DOUBLE) / count(*) AS avg_chars
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** A17 lexical density per language (text_quality.py:159-277). */
  def lexicalDensity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", TF.tokenCount(col("text")))
      .withColumn("n_content", TF.contentTokenCount(col("text")))
    docs.groupBy("lang")
      .agg(
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_content")).as("content_tokens"))
      .withColumn("density",
        col("content_tokens").cast("double") / col("total_tokens").cast("double"))
      .orderBy("lang")
  }

  val lexicalDensitySql: String =
    s"""WITH d AS (
      |  SELECT lang,
      |    len(list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0)) AS n_tokens,
      |    len(list_filter(string_split_regex(text, '\\s+'),
      |        t -> length(t) > 0 AND t NOT IN $stopwordsSqlList)) AS n_content
      |  FROM documents
      |)
      |SELECT lang,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(sum(n_content) AS BIGINT) AS content_tokens,
      |  CAST(CAST(sum(n_content) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE) AS density
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** Heuristic quality score rollup per language (DECIMAL-exact mean). */
  def docQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("score", TextAnalysis.qualityScore(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("score").cast("decimal(20,12)")).cast("double") / count(lit(1))).as("avg_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy("lang")

  val docQualitySql: String =
    s"""WITH d AS (
      |  SELECT lang,
      |    CAST(len($toksSql) AS DOUBLE) AS ntok,
      |    CAST(len($contentToksSql) AS DOUBLE) AS ncont,
      |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS chars
      |  FROM documents
      |), s AS (
      |  SELECT lang,
      |    0.4 * least(1.0, ntok / 50.0)
      |    + 0.3 * (1.0 - (CASE WHEN ntok = 0.0 THEN 1.0 ELSE 1.0 - ncont / ntok END))
      |    + 0.3 * least(1.0, (CASE WHEN ntok = 0.0 THEN 0.0 ELSE chars / ntok END) / 8.0) AS score
      |  FROM d
      |)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CAST(score AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_score,
      |  min(score) AS min_score, max(score) AS max_score
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  /** Whitespace vs BPE-ish token counts per language. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_ws", TF.tokenCount(col("text")))
      .withColumn("n_bpeish", TextAnalysis.bpeishTokenCount(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("total_ws"),
        sum(col("n_bpeish")).as("total_bpeish"),
        (sum(col("n_bpeish")).cast("double") / sum(col("n_ws")).cast("double")).as("bpe_per_ws"))
      .orderBy("lang")

  val tokenCountsSql: String =
    s"""WITH d AS (
      |  SELECT lang,
      |    len($toksSql) AS n_ws,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_bpeish
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_ws) AS BIGINT) AS total_ws,
      |  CAST(sum(n_bpeish) AS BIGINT) AS total_bpeish,
      |  CAST(CAST(sum(n_bpeish) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(sum(n_ws) AS BIGINT) AS DOUBLE) AS bpe_per_ws
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** Rolling-hash fingerprint per document (content addressing). */
  def docFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  val docFingerprintsSql: String =
    s"""SELECT doc_id, ${ph(normTextSql)} AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Self-trained char-trigram language-ID confusion matrix. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    // profiles train on a deterministic quarter-sample (mirrored in the
    // oracle); classification still covers every document. The doc's own
    // lang CARRIES through the classify aggregation — a docs ⋈ pred
    // join-back on doc_id would cost two corpus-sized exchanges just to
    // recover a column the classify input already has.
    val pred = TextAnalysis.langIdByTrigramProfile(docs, "doc_id", col("text"), "lang",
      trainDf = Some(docs.filter(col("doc_id") % 4 === 0)),
      carryCols = Seq("lang"))
    pred
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  val langIdConfusionSql: String =
    s"""WITH norm AS (
      |  SELECT doc_id, lang, $normTextSql AS t FROM documents
      |), grams AS (
      |  SELECT doc_id, lang,
      |    unnest(list_distinct(list_transform(range(1, length(t) - 1),
      |      i -> substr(t, CAST(i AS INTEGER), 3)))) AS g
      |  FROM norm
      |), prof AS (
      |  SELECT plabel, g FROM (
      |    SELECT plabel, g, row_number() OVER (PARTITION BY plabel ORDER BY n DESC, g) AS r
      |    FROM (SELECT lang AS plabel, g, count(*) AS n FROM grams
      |          WHERE doc_id % 4 = 0 GROUP BY lang, g)
      |  ) WHERE r <= 50
      |), scores AS (
      |  SELECT gr.doc_id, p.plabel, count(*) AS score
      |  FROM grams gr JOIN prof p ON gr.g = p.g
      |  GROUP BY gr.doc_id, p.plabel
      |), pred AS (
      |  SELECT doc_id, plabel AS predicted FROM (
      |    SELECT doc_id, plabel, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plabel) AS r
      |    FROM scores
      |  ) WHERE r = 1
      |)
      |SELECT d.lang AS lang, pred.predicted AS predicted, count(*) AS n
      |FROM documents d JOIN pred ON d.doc_id = pred.doc_id
      |GROUP BY d.lang, pred.predicted ORDER BY lang, predicted""".stripMargin

  /** A5 length compliance: % of documents within [100,400] chars per
    * language (distribution.py:111-215; we report 4-dp percentages
    * instead of the reference's force-sum-to-100 rounding). */
  def lengthCompliance(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = (100, 400)
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(lit(100.0) * sum(when(col("n_chars") >= lo && col("n_chars") <= hi, 1).otherwise(0))
          / count(lit(1)), 4).as("pct_in_range"),
        round(lit(100.0) * sum(when(col("n_chars") < lo, 1).otherwise(0))
          / count(lit(1)), 4).as("pct_short"),
        round(lit(100.0) * sum(when(col("n_chars") > hi, 1).otherwise(0))
          / count(lit(1)), 4).as("pct_long"))
      .orderBy("lang")
  }

  val lengthComplianceSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  round(100.0 * sum(CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END) / count(*), 4) AS pct_in_range,
      |  round(100.0 * sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) / count(*), 4) AS pct_short,
      |  round(100.0 * sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END) / count(*), 4) AS pct_long
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** A18 punctuation ratio per language: punct chars / non-ws chars,
    * decimal-exact mean of the per-doc ratios (text_quality.py:280-391). */
  def punctRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("pr", TF.punctRatio(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("pr").cast("decimal(20,12)")).cast("double") / count(lit(1))).as("avg_punct_ratio"),
        round(min(col("pr")), 6).as("min_punct_ratio"),
        round(max(col("pr")), 6).as("max_punct_ratio"))
      .orderBy("lang")

  val punctRatioSql: String =
    """WITH d AS (
      |  SELECT lang,
      |    CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN 0.0
      |      ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
      |        / length(regexp_replace(text, '\s', '', 'g')) END AS pr
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CAST(pr AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_punct_ratio,
      |  round(min(pr), 6) AS min_punct_ratio,
      |  round(max(pr), 6) AS max_punct_ratio
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** A15 series balance: per-series rollup + largest/smallest ratio
    * (reference balance.py:211-367; `source` plays the series role). */
  def seriesBalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perSeries = docs.groupBy(col("source").as("series"))
      .agg(
        count(lit(1)).as("doc_count"),
        countDistinct(col("lang")).as("lang_count"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
    // corpus-wide total/extremes as a 1-row broadcast, not a global
    // window (which would run every series through one task)
    val totals = broadcast(perSeries.agg(
      sum(col("doc_count")).as("_total"),
      max(col("doc_count")).as("_max"),
      min(col("doc_count")).as("_min")))
    perSeries.crossJoin(totals)
      .withColumn("doc_percent",
        round(lit(100.0) * col("doc_count") / col("_total"), 2))
      .withColumn("balance_ratio",
        round(col("_max").cast("double") / col("_min"), 2))
      .select("series", "doc_count", "doc_percent", "lang_count",
        "total_chars", "avg_chars", "balance_ratio")
      .orderBy(col("doc_count").desc, col("series"))
  }

  val seriesBalanceSql: String =
    """WITH s AS (
      |  SELECT source AS series, count(*) AS doc_count,
      |    count(DISTINCT lang) AS lang_count,
      |    sum(n_chars) AS total_chars, round(avg(n_chars), 2) AS avg_chars
      |  FROM documents GROUP BY source
      |)
      |SELECT series, CAST(doc_count AS BIGINT) AS doc_count,
      |  round(100.0 * doc_count / sum(doc_count) OVER (), 2) AS doc_percent,
      |  CAST(lang_count AS BIGINT) AS lang_count,
      |  CAST(total_chars AS BIGINT) AS total_chars,
      |  avg_chars,
      |  round(CAST(max(doc_count) OVER () AS DOUBLE) / min(doc_count) OVER (), 2) AS balance_ratio
      |FROM s ORDER BY doc_count DESC, series""".stripMargin

  /** Gopher-style quality-filter signals per language (MassiveText
    * rules): exact integer sums + one-division ratios, plus the count of
    * documents passing the full filter battery
    * ([[graft.operators.TextAnalysis.gopherSignals]]). */
  def qualitySignals(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherSignals(Tables.documents(spark, dir), col("text"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("total_words"),
        (sum(col("n_token_chars").cast("long")).cast("double")
          / sum(col("n_words").cast("long"))).as("avg_word_len"),
        (sum(col("n_alpha_words").cast("long")).cast("double")
          / sum(col("n_words").cast("long"))).as("alpha_frac"),
        sum(col("n_stopwords").cast("long")).as("total_stopwords"),
        sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_pass"))
      .orderBy("lang")

  val qualitySignalsSql: String =
    s"""WITH t AS (
      |  SELECT lang, text, $toksSql AS tk FROM documents
      |), s AS (
      |  SELECT lang,
      |    len(tk) AS n_words,
      |    length(array_to_string(tk, '')) AS n_chars,
      |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
      |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
      |    len(tk) - len($contentToksSql) AS n_stop
      |  FROM t
      |)
      |SELECT lang,
      |  count(*) AS n_docs,
      |  CAST(sum(n_words) AS BIGINT) AS total_words,
      |  CAST(sum(n_chars) AS DOUBLE) / sum(n_words) AS avg_word_len,
      |  CAST(sum(n_alpha) AS DOUBLE) / sum(n_words) AS alpha_frac,
      |  CAST(sum(n_stop) AS BIGINT) AS total_stopwords,
      |  CAST(sum(CASE WHEN n_words >= 10 AND n_words <= 100000
      |    AND n_words > 0
      |    AND CAST(n_chars AS DOUBLE) / n_words >= 2.0
      |    AND CAST(n_chars AS DOUBLE) / n_words <= 10.0
      |    AND CAST(n_symbols AS DOUBLE) / n_words < 0.1
      |    AND CAST(n_alpha AS DOUBLE) / n_words > 0.8
      |    AND n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  /** Repetition detection: top-10 documents by top-bigram mass — the
    * share of all word bigrams taken by the most frequent one
    * ([[graft.operators.TextAnalysis.topNgramMass]]). */
  def repetitionTop(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgramMass(Tables.documentsSpread(spark, dir), "doc_id", col("text"), 2)
      .select(col("doc_id"), col("n_grams"), col("top_gram"), col("top_n"),
        round(col("top_fraction"), 6).as("top_fraction"))
      .orderBy(col("top_fraction").desc, col("doc_id")).limit(10)

  val repetitionTopSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, $toksSql AS tk FROM documents
      |), g AS (
      |  SELECT doc_id, unnest($bigramsFromTkSql) AS gram FROM t WHERE len(tk) >= 2
      |), c AS (
      |  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
      |), r AS (
      |  SELECT doc_id, gram, cnt,
      |    sum(cnt) OVER (PARTITION BY doc_id) AS total,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rnk
      |  FROM c
      |)
      |SELECT doc_id, CAST(total AS BIGINT) AS n_grams, gram AS top_gram,
      |  CAST(cnt AS BIGINT) AS top_n,
      |  round(CAST(cnt AS DOUBLE) / total, 6) AS top_fraction
      |FROM r WHERE rnk = 1
      |ORDER BY top_fraction DESC, doc_id LIMIT 10""".stripMargin

  /** PII-ish pattern counts over the events payloads (emails, phone-like
    * runs, digit density) — training-data hygiene counters. */
  def piiStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(TextAnalysis.emailCount(col("props")).cast("long")).as("email_matches"),
        sum(TextAnalysis.phoneCount(col("props")).cast("long")).as("phone_matches"),
        sum(TextAnalysis.digitCount(col("props")).cast("long")).as("digit_chars"),
        (sum(TextAnalysis.digitCount(col("props")).cast("long")).cast("double")
          / sum(length(col("props")).cast("long"))).as("digit_ratio"))
      .orderBy("event_type")

  val piiStatsSql: String =
    """SELECT event_type,
      |  count(*) AS n,
      |  CAST(sum(len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS email_matches,
      |  CAST(sum(len(regexp_extract_all(props, '\+?[0-9][0-9() -]{6,}[0-9]'))) AS BIGINT) AS phone_matches,
      |  CAST(sum(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))) AS BIGINT) AS digit_chars,
      |  CAST(sum(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))) AS DOUBLE)
      |    / sum(length(props)) AS digit_ratio
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A19 corpus top-20 bigrams: ALL word pairs by occurrence (not
    * distinct-per-doc), kept when at least one word is a content word —
    * the reference's bigram counter (text_quality.py:446-480) beside
    * q10's unigrams. */
  def topBigrams(spark: SparkSession, dir: String): DataFrame = {
    val stop = array(TF.stopwords.map(lit): _*)
    Tables.documentsSpread(spark, dir)
      .select(TF.tokens(col("text")).as("_tk"))
      .filter(size(col("_tk")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("_tk")) - 2),
        i => struct(
          element_at(col("_tk"), i + 1).as("w1"),
          element_at(col("_tk"), i + 2).as("w2")))).as("bg"))
      .filter(!array_contains(stop, col("bg.w1")) || !array_contains(stop, col("bg.w2")))
      .select(concat_ws(" ", col("bg.w1"), col("bg.w2")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  val topBigramsSql: String =
    s"""WITH t AS (
      |  SELECT $toksSql AS tk FROM documents
      |), b AS (
      |  SELECT tk[i] AS w1, tk[i+1] AS w2
      |  FROM t, UNNEST(range(1, len(tk))) AS r(i)
      |)
      |SELECT w1 || ' ' || w2 AS bigram, CAST(count(*) AS BIGINT) AS n
      |FROM b
      |WHERE w1 NOT IN $stopwordsSqlList OR w2 NOT IN $stopwordsSqlList
      |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** X59 PII redaction audit (q53's apply form): emails/phones replaced
    * with placeholder tokens, per-type counts of affected rows and the
    * net length change. Map-only rewrite + one keyed agg. */
  def piiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val redacted = TextAnalysis.redactPii(col("props"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("props"), redacted.as("red"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("red") =!= col("props"), 1L).otherwise(0L)).as("n_redacted"),
        sum((length(col("red")) - length(col("props"))).cast("long")).as("len_delta"))
      .orderBy("event_type")
  }

  val piiRedactionSql: String =
    """WITH r AS (
      |  SELECT event_type, props,
      |    regexp_replace(
      |      regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS red
      |  FROM events
      |)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN red <> props THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
      |  CAST(sum(length(red) - length(props)) AS BIGINT) AS len_delta
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** X62 per-source length-distribution drift: chi-square of each
    * source's token-length histogram against the corpus-wide
    * distribution over shared fixed edges — the distribution-shift
    * monitor for incoming crawl slices. Expected counts derive from a
    * broadcast corpus histogram; the statistic is one exact double sum
    * per source. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val edges = Seq(10.0, 20.0, 30.0, 40.0, 50.0)
    val binned = Tables.documents(spark, dir)
      .select(col("source"), TF.tokenCount(col("text")).cast("double").as("ntok"))
      .withColumn("bin", Stats.binIndex(col("ntok"), edges))
    val perSource = binned.groupBy("source", "bin").agg(count(lit(1)).as("n"))
    val corpus = broadcast(binned.groupBy("bin").agg(count(lit(1)).as("n_total")))
    val totals = broadcast(binned.groupBy("source").agg(count(lit(1)).as("n_source"))
      .crossJoin(binned.agg(count(lit(1)).as("n_all"))))
    perSource.join(corpus, "bin").join(totals, "source")
      .withColumn("expected",
        col("n_total").cast("double") * col("n_source") / col("n_all"))
      .withColumn("term",
        (col("n").cast("double") - col("expected")) *
          (col("n").cast("double") - col("expected")) / col("expected"))
      .groupBy("source")
      .agg(
        max(col("n_source")).as("n_docs"),
        round(sum(col("term").cast("decimal(20,12)")).cast("double"), 6).as("chi_square"))
      .orderBy("source")
  }

  val sourceDriftSql: String =
    s"""WITH t AS (
      |  SELECT source, CAST(len($toksSql) AS DOUBLE) AS ntok FROM documents
      |), b AS (
      |  SELECT source,
      |    CASE WHEN ntok < 10 THEN -1 WHEN ntok < 20 THEN 0
      |         WHEN ntok < 30 THEN 1 WHEN ntok < 40 THEN 2
      |         WHEN ntok < 50 THEN 3 ELSE 4 END AS bin
      |  FROM t
      |), ps AS (
      |  SELECT source, bin, count(*) AS n FROM b GROUP BY source, bin
      |), ct AS (
      |  SELECT bin, count(*) AS n_total FROM b GROUP BY bin
      |), st AS (
      |  SELECT source, count(*) AS n_source FROM b GROUP BY source
      |), al AS (
      |  SELECT count(*) AS n_all FROM b
      |), terms AS (
      |  SELECT ps.source, st.n_source,
      |    (CAST(ps.n AS DOUBLE) - CAST(ct.n_total AS DOUBLE) * st.n_source / al.n_all)
      |    * (CAST(ps.n AS DOUBLE) - CAST(ct.n_total AS DOUBLE) * st.n_source / al.n_all)
      |    / (CAST(ct.n_total AS DOUBLE) * st.n_source / al.n_all) AS term
      |  FROM ps JOIN ct ON ps.bin = ct.bin JOIN st ON ps.source = st.source, al
      |)
      |SELECT source, max(n_source) AS n_docs,
      |  round(CAST(sum(CAST(term AS DECIMAL(20,12))) AS DOUBLE), 6) AS chi_square
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** X68 per-source type-token ratio ([[Corpus.typeTokenRatio]]). */
  val typeTokenRatioSql: String =
    s"""WITH tk AS (
      |  SELECT source, unnest($toksSql) AS tok FROM documents
      |), totals AS (
      |  SELECT source, count(*) AS n_tokens FROM tk GROUP BY source
      |), types AS (
      |  SELECT source, count(*) AS n_types
      |  FROM (SELECT DISTINCT source, tok FROM tk) GROUP BY source
      |)
      |SELECT t.source, t.n_tokens, y.n_types,
      |  round(CAST(y.n_types AS DOUBLE) / t.n_tokens, 6) AS ttr
      |FROM totals t JOIN types y ON t.source = y.source
      |ORDER BY t.source""".stripMargin

  /** X69 per-source bigram novelty ([[Corpus.sourceNovelty]]). */
  val sourceNoveltySql: String =
    s"""WITH t0 AS (
      |  SELECT source, $toksSql AS tk FROM documents
      |), g AS (
      |  SELECT DISTINCT source, unnest($bigramsFromTkSql) AS g FROM t0
      |), spread AS (
      |  SELECT g, count(*) AS n_sources FROM g GROUP BY g
      |)
      |SELECT g.source, count(*) AS n_bigrams,
      |  CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  round(CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1.0 / count(*), 6) AS novelty
      |FROM g JOIN spread ON g.g = spread.g
      |GROUP BY g.source ORDER BY g.source""".stripMargin

  /** X72 bigram collocations with PMI: top-20 most frequent word pairs
    * scored by pointwise mutual information from exact corpus counts —
    * the classic collocation-extraction operator. Ranking is by the
    * exact integer count (PMI is a derived display value), unigram
    * tables join keyed on the word. */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsSpread(spark, dir).select(TF.tokens(col("text")).as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val totals = broadcast(uni.agg(
      sum(col("nw")).as("_tok_total"), count(lit(1)).as("_vocab")))
    val bi = toks.filter(size(col("tk")) >= 2)
      .select(explode(TF.wordShinglesOfTokens(col("tk"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("nab"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val biTotal = broadcast(bi.agg(sum(col("nab")).as("_bi_total")))
    bi.join(uni.select(col("w").as("w1"), col("nw").as("na")), "w1")
      .join(uni.select(col("w").as("w2"), col("nw").as("nb")), "w2")
      .crossJoin(totals).crossJoin(biTotal)
      .withColumn("pmi", round(log(
        (col("nab").cast("double") / col("_bi_total")) /
          ((col("na").cast("double") / col("_tok_total")) *
            (col("nb").cast("double") / col("_tok_total")))), 6))
      .select(col("bg").as("bigram"), col("nab").as("n"), col("na"), col("nb"), col("pmi"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  val collocationsSql: String =
    s"""WITH t AS (
      |  SELECT $toksSql AS tk FROM documents
      |), uni AS (
      |  SELECT w, count(*) AS nw FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w
      |), tot AS (
      |  SELECT CAST(sum(nw) AS BIGINT) AS tok_total FROM uni
      |), bi AS (
      |  SELECT bg, count(*) AS nab,
      |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      |  FROM (SELECT unnest($bigramsFromTkSql) AS bg FROM t WHERE len(tk) >= 2)
      |  GROUP BY bg
      |), bt AS (
      |  SELECT CAST(sum(nab) AS BIGINT) AS bi_total FROM bi
      |)
      |SELECT bi.bg AS bigram, bi.nab AS n, a.nw AS na, b.nw AS nb,
      |  round(ln((CAST(bi.nab AS DOUBLE) / bt.bi_total)
      |    / ((CAST(a.nw AS DOUBLE) / tot.tok_total)
      |       * (CAST(b.nw AS DOUBLE) / tot.tok_total))), 6) AS pmi
      |FROM bi JOIN uni a ON bi.w1 = a.w
      |JOIN uni b ON bi.w2 = b.w, tot, bt
      |ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** X73 head coverage per language: the token share of the 10 most
    * frequent terms — the head-heaviness / Zipf-mass signal that flags
    * repetitive or templated languages. All-integer until one final
    * division; the ranking window runs over the vocabulary-sized term
    * table, not tokens. */
  def headCoverage(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documentsSpread(spark, dir)
      .select(col("lang"), explode(TF.tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("nw"))
    val w = Window.partitionBy("lang").orderBy(col("nw").desc, col("w"))
    val top = terms.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .groupBy("lang").agg(sum(col("nw")).as("top10_tokens"))
    val totals = terms.groupBy("lang").agg(sum(col("nw")).as("n_tokens"))
    totals.join(top, "lang")
      .withColumn("head_coverage",
        round(col("top10_tokens").cast("double") / col("n_tokens"), 6))
      .orderBy("lang")
  }

  val headCoverageSql: String =
    s"""WITH terms AS (
      |  SELECT lang, w, count(*) AS nw
      |  FROM (SELECT lang, unnest($toksSql) AS w FROM documents)
      |  GROUP BY lang, w
      |), top AS (
      |  SELECT lang, CAST(sum(nw) AS BIGINT) AS top10_tokens FROM (
      |    SELECT lang, nw,
      |      row_number() OVER (PARTITION BY lang ORDER BY nw DESC, w) AS rnk
      |    FROM terms
      |  ) WHERE rnk <= 10 GROUP BY lang
      |), totals AS (
      |  SELECT lang, CAST(sum(nw) AS BIGINT) AS n_tokens FROM terms GROUP BY lang
      |)
      |SELECT t.lang, t.n_tokens, p.top10_tokens,
      |  round(CAST(p.top10_tokens AS DOUBLE) / t.n_tokens, 6) AS head_coverage
      |FROM totals t JOIN top p ON t.lang = p.lang
      |ORDER BY t.lang""".stripMargin

  /** X78 unigram-LM fluency buckets ([[Corpus.perplexityBuckets]]). */
  val perplexityBucketsSql: String =
    s"""WITH tk AS (
      |  SELECT doc_id, source, unnest($toksSql) AS tok FROM documents
      |), c AS (
      |  SELECT tok, count(*) AS nw FROM tk GROUP BY tok
      |), t AS (
      |  SELECT CAST(sum(nw) AS BIGINT) AS n_tokens, count(*) AS v FROM c
      |), lm AS (
      |  SELECT tok, round(-ln((nw + 1.0) / (n_tokens + v)), 6) AS nll
      |  FROM c, t
      |), d AS (
      |  SELECT tk.doc_id, tk.source,
      |    CAST(sum(CAST(lm.nll AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS score
      |  FROM tk JOIN lm USING (tok) GROUP BY tk.doc_id, tk.source
      |)
      |SELECT source, count(*) AS n_docs,
      |  round(CAST(sum(CAST(round(score, 6) AS DECIMAL(20,12))) AS DOUBLE)
      |    / count(*), 6) AS avg_nll,
      |  round(min(score), 6) AS min_nll,
      |  round(max(score), 6) AS max_nll
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** X79 DSIR importance weights ([[Corpus.importanceWeights]]). */
  val importanceWeightsSql: String =
    s"""WITH tk AS (
      |  SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents
      |), st AS (
      |  SELECT tok,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nr
      |  FROM tk GROUP BY tok
      |), t AS (
      |  SELECT CAST(sum(nt) AS BIGINT) AS t_total,
      |    CAST(sum(nr) AS BIGINT) AS r_total, count(*) AS v FROM st
      |), ratio AS (
      |  SELECT tok, round(ln(((nt + 1.0) / (t_total + v))
      |    / ((nr + 1.0) / (r_total + v))), 6) AS w_lr
      |  FROM st, t
      |)
      |SELECT tk.doc_id, count(*) AS n_tokens,
      |  round(CAST(sum(CAST(ratio.w_lr AS DECIMAL(20,12))) AS DOUBLE), 6)
      |    AS score
      |FROM tk JOIN ratio USING (tok) WHERE tk.lang <> 'en'
      |GROUP BY tk.doc_id
      |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin

  /** X80 p95 truncation audit ([[Corpus.truncationAudit]]). */
  val truncationAuditSql: String =
    s"""WITH lens AS (
      |  SELECT source, doc_id, CAST(len($toksSql) AS BIGINT) AS ntok
      |  FROM documents
      |), caps AS (
      |  SELECT source, quantile_cont(ntok, 0.95) AS p95
      |  FROM lens GROUP BY source
      |)
      |SELECT l.source, count(*) AS n_docs,
      |  CAST(sum(l.ntok) AS BIGINT) AS total_tokens,
      |  round(max(c.p95), 6) AS p95_tokens,
      |  CAST(sum(CASE WHEN l.ntok > CAST(ceiling(c.p95) AS BIGINT)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
      |  CAST(sum(CASE WHEN l.ntok > CAST(ceiling(c.p95) AS BIGINT)
      |    THEN l.ntok - CAST(ceiling(c.p95) AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS tokens_dropped
      |FROM lens l JOIN caps c ON l.source = c.source
      |GROUP BY l.source ORDER BY l.source""".stripMargin

  /** X82 sliding-window chunking audit ([[Corpus.chunkingStats]]). */
  val chunkingStatsSql: String =
    s"""WITH lens AS (
      |  SELECT source, CAST(len($toksSql) AS BIGINT) AS ntok FROM documents
      |), c AS (
      |  SELECT source, ntok,
      |    CASE WHEN ntok <= 64 THEN 1
      |         ELSE CAST(ceiling((ntok - 64) / 48.0) AS BIGINT) + 1 END AS n_chunks
      |  FROM lens
      |), t AS (
      |  SELECT source, ntok, n_chunks,
      |    CASE WHEN ntok <= 64 THEN ntok
      |         ELSE (n_chunks - 1) * 64 + (ntok - (n_chunks - 1) * 48)
      |         END AS chunk_toks
      |  FROM c
      |)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
      |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_multi_chunk,
      |  CAST(sum(chunk_toks) AS BIGINT) AS chunk_tokens,
      |  round(CAST(sum(chunk_toks) AS DOUBLE) / CAST(sum(ntok) AS BIGINT), 6)
      |    AS inflation
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** X84 Misra–Gries heavy hitters
    * ([[graft.operators.TextAnalysis.heavyHitters]]). Capacity 64k far
    * exceeds the synthetic vocabulary, so the sketch runs in its exact
    * regime and the DuckDB top-20 is a hash-exact oracle; the sketch
    * bound (undercount ≤ N/(capacity+1)) is unit-tested separately. */
  val heavyHittersSql: String =
    s"""WITH t AS (
      |  SELECT unnest($toksSql) AS token FROM documents
      |)
      |SELECT token, count(*) AS n FROM t
      |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin

  /** X97 Naive Bayes quality classifier trained on the Gopher weak label
    * ([[TextAnalysis.nbQualityScores]]): the heuristic battery labels the
    * corpus, the closed-form classifier generalizes it to a graded
    * per-document score, and the per-source rollup reports how far the
    * learned signal agrees with the rule that taught it. */
  def nbQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    val sig = TextAnalysis.gopherSignals(docs, col("text"))
    val scored = TextAnalysis.nbQualityScores(sig, "doc_id", col("text"), col("gopher_pass"))
    scored.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("weak_label"), 1L).otherwise(0L)).as("n_weak_pass"),
        sum(when(col("predicted_pass"), 1L).otherwise(0L)).as("n_pred_pass"),
        round(lit(100.0) * sum(when(col("weak_label") === col("predicted_pass"), 1L)
          .otherwise(0L)) / count(lit(1)), 4).as("agreement_pct"),
        round(sum(col("score").cast("decimal(20,12)")).cast("double") / count(lit(1)), 6)
          .as("avg_score"))
      .orderBy("source")
  }

  // q96: the full NB train+score pipeline replayed in SQL — weak label
  // from the Gopher battery (q51's fragment), token log-ratios rounded
  // to 6dp, DECIMAL sums for order-free float parity (q82/q83 device)
  val nbQualitySql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, text, $toksSql AS tk FROM documents
      |), s AS (
      |  SELECT doc_id, source, tk,
      |    len(tk) AS n_words,
      |    length(array_to_string(tk, '')) AS n_chars2,
      |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
      |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
      |    len(tk) - len($contentToksSql) AS n_stop
      |  FROM t
      |), lab AS (
      |  SELECT doc_id, source, tk,
      |    (n_words >= 10 AND n_words <= 100000 AND n_words > 0
      |      AND CAST(n_chars2 AS DOUBLE) / n_words >= 2.0
      |      AND CAST(n_chars2 AS DOUBLE) / n_words <= 10.0
      |      AND CAST(n_symbols AS DOUBLE) / n_words < 0.1
      |      AND CAST(n_alpha AS DOUBLE) / n_words > 0.8
      |      AND n_stop >= 2) AS y
      |  FROM s
      |), tok AS (
      |  SELECT doc_id, y, unnest(tk) AS tok FROM lab
      |), st AS (
      |  SELECT tok,
      |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
      |  FROM tok GROUP BY tok
      |), tt AS (
      |  SELECT CAST(sum(np) AS BIGINT) AS p_total,
      |    CAST(sum(nn) AS BIGINT) AS n_total, count(*) AS v FROM st
      |), w AS (
      |  SELECT tok, round(ln(((np + 1.0) / (p_total + v))
      |    / ((nn + 1.0) / (n_total + v))), 6) AS w_lr
      |  FROM st, tt
      |), pr AS (
      |  SELECT round(ln((sum(CASE WHEN y THEN 1 ELSE 0 END) + 1.0)
      |    / (sum(CASE WHEN y THEN 0 ELSE 1 END) + 1)), 6) AS prior FROM lab
      |), ds AS (
      |  SELECT tok.doc_id,
      |    CAST(sum(CAST(w.w_lr AS DECIMAL(20,12))) AS DOUBLE) AS wsum
      |  FROM tok JOIN w USING (tok) GROUP BY tok.doc_id
      |), sc AS (
      |  SELECT lab.doc_id, lab.source, lab.y,
      |    round(pr.prior + coalesce(ds.wsum, 0), 6) AS score
      |  FROM lab LEFT JOIN ds ON lab.doc_id = ds.doc_id, pr
      |)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_weak_pass,
      |  CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pass,
      |  round(100.0 * sum(CASE WHEN y = (score >= 0) THEN 1 ELSE 0 END)
      |    / count(*), 4) AS agreement_pct,
      |  round(CAST(sum(CAST(score AS DECIMAL(20,12))) AS DOUBLE)
      |    / count(*), 6) AS avg_score
      |FROM sc GROUP BY source ORDER BY source""".stripMargin

  /** X103 Zipf rank–frequency slope per source
    * ([[graft.operators.TextAnalysis.zipfAudit]]). */
  // q101: Zipf rank-frequency slope — each ln() rounds into
  // DECIMAL(12,6) BEFORE the products so all sums are exact and
  // order-free; ln agrees to >=6dp across engines on integer inputs
  // (the q96 precedent); ties rank by token.
  val zipfAuditSql: String =
    s"""WITH tk AS (
      |  SELECT source, unnest($toksSql) AS tok FROM documents
      |), c AS (
      |  SELECT source, tok, count(*) AS n FROM tk GROUP BY source, tok
      |), r AS (
      |  SELECT source, n,
      |    row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rk
      |  FROM c
      |), t AS (
      |  SELECT source,
      |    CAST(ln(rk) AS DECIMAL(12,6)) AS x,
      |    CAST(ln(n) AS DECIMAL(12,6)) AS y
      |  FROM r WHERE rk <= 100
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS top_k,
      |  round(CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS DOUBLE)
      |    / CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS DOUBLE), 6) AS zipf_slope
      |FROM t GROUP BY source
      |HAVING count(*) >= 2
      |ORDER BY source""".stripMargin

  /** X119 bigram-LM cross-entropy per source ([[Corpus.bigramPerplexity]]). */
  // X119: the add-one bigram LM replayed in SQL — bigrams from the
  // same list device as q55/q113 (tokens are whitespace-split, so the
  // "w1 w2" string key is injective and split_part recovers the
  // context); NLL rounds to 6dp before DECIMAL sums, the q82 contract.
  val bigramPerplexitySql: String =
    s"""WITH t0 AS (
      |  SELECT doc_id, source, $toksSql AS tk FROM documents
      |), tf AS (
      |  SELECT doc_id, source, tk FROM t0 WHERE len(tk) >= 2
      |), bg AS (
      |  SELECT doc_id, source, unnest($bigramsFromTkSql) AS b FROM tf
      |), cb AS (
      |  SELECT b, count(*) AS nbg FROM bg GROUP BY b
      |), cu AS (
      |  SELECT split_part(b, ' ', 1) AS w1, CAST(sum(nbg) AS BIGINT) AS nw1
      |  FROM cb GROUP BY 1
      |), vocab AS (
      |  SELECT count(*) AS v FROM (SELECT DISTINCT unnest($toksSql) AS tok FROM documents)
      |), lm AS (
      |  SELECT cb.b, round(-ln((cb.nbg + 1.0) / (cu.nw1 + vocab.v)), 6) AS nll
      |  FROM cb JOIN cu ON split_part(cb.b, ' ', 1) = cu.w1 CROSS JOIN vocab
      |), d AS (
      |  SELECT bg.doc_id, bg.source,
      |    CAST(sum(CAST(lm.nll AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS score
      |  FROM bg JOIN lm USING (b) GROUP BY bg.doc_id, bg.source
      |)
      |SELECT source, count(*) AS n_docs,
      |  round(CAST(sum(CAST(round(score, 6) AS DECIMAL(20,12))) AS DOUBLE)
      |    / count(*), 6) AS avg_nll,
      |  round(min(score), 6) AS min_nll,
      |  round(max(score), 6) AS max_nll
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** X122 tokenizer fertility audit ([[graft.operators.TextAnalysis.fertilityAudit]]). */
  // X122: per-doc byte/char/subword-per-token ratios round to 6dp, then
  // the DECIMAL-mean device (order-free). strlen = bytes in DuckDB
  // (Spark octet_length); zero-token docs drop on both sides.
  val fertilityAuditSql: String =
    s"""WITH d AS (
      |  SELECT source,
      |    strlen(text) AS b, length(text) AS ch,
      |    len($toksSql) AS nws,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS nbpe
      |  FROM documents
      |), f AS (
      |  SELECT source,
      |    round(CAST(b AS DOUBLE) / nws, 6) AS bpt,
      |    round(CAST(ch AS DOUBLE) / nws, 6) AS cpt,
      |    round(CAST(nbpe AS DOUBLE) / nws, 6) AS fert
      |  FROM d WHERE nws >= 1
      |)
      |SELECT source, count(*) AS n_docs,
      |  round(CAST(sum(CAST(bpt AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_bytes_per_tok,
      |  round(CAST(sum(CAST(cpt AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_chars_per_tok,
      |  round(CAST(sum(CAST(fert AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_bpe_fertility
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** X123 char-entropy quality audit ([[graft.operators.TextAnalysis.charEntropyAudit]]). */
  // X123: the oracle explodes characters (fine at oracle scale; the
  // Spark side histograms map-only instead) and replays the entropy
  // fold term-for-term: p = cnt/len in DOUBLE, ln rounds to 6dp before
  // the product, terms round to 12dp into DECIMAL so the sum is
  // order-free, and the final entropy rounds to 6dp.
  val charEntropySql: String =
    """WITH pos AS (
      |  SELECT doc_id, source, text, unnest(generate_series(1, length(text))) AS i
      |  FROM documents WHERE length(text) >= 1
      |), hist AS (
      |  SELECT doc_id, source, substring(text, i, 1) AS c, count(*) AS cnt
      |  FROM pos GROUP BY 1, 2, 3
      |), lens AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS len FROM hist GROUP BY 1
      |), ent AS (
      |  SELECT h.doc_id, h.source,
      |    round(-CAST(sum(CAST(round(
      |      (h.cnt / CAST(l.len AS DOUBLE)) *
      |      round(ln(h.cnt / CAST(l.len AS DOUBLE)), 6), 12) AS DECIMAL(20,14))) AS DOUBLE), 6) AS entropy
      |  FROM hist h JOIN lens l USING (doc_id) GROUP BY 1, 2
      |)
      |SELECT source, count(*) AS n_docs,
      |  round(CAST(sum(CAST(entropy AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_entropy,
      |  round(min(entropy), 6) AS min_entropy,
      |  round(max(entropy), 6) AS max_entropy,
      |  round(CAST(sum(CASE WHEN entropy < 2.0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS low_share
      |FROM ent GROUP BY source ORDER BY source""".stripMargin

  /** X124 token-distribution divergence audit ([[Corpus.tokenDivergence]]). */
  // X124: the unigram-distribution triple replayed in SQL — one
  // (source, token) count, totals folded from it, the same
  // round-ln-before-products / 12dp-terms-into-DECIMAL contract.
  val tokenDivergenceSql: String =
    s"""WITH tk AS (
      |  SELECT source, unnest($toksSql) AS tok FROM documents
      |), st AS (
      |  SELECT source, tok, count(*) AS n_st FROM tk GROUP BY 1, 2
      |), s AS (
      |  SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1
      |), c AS (
      |  SELECT tok, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1
      |), n AS (
      |  SELECT CAST(sum(n_t) AS BIGINT) AS n FROM c
      |), terms AS (
      |  SELECT st.source,
      |    round((st.n_st / CAST(s.n_s AS DOUBLE)) *
      |      round(ln((st.n_st / CAST(s.n_s AS DOUBLE)) /
      |                (c.n_t / CAST(n.n AS DOUBLE))), 6), 12) AS klt,
      |    round((st.n_st / CAST(s.n_s AS DOUBLE)) *
      |      round(ln(st.n_st / CAST(s.n_s AS DOUBLE)), 6), 12) AS ht,
      |    round((st.n_st / CAST(s.n_s AS DOUBLE)) *
      |          (st.n_st / CAST(s.n_s AS DOUBLE)), 12) AS sqt
      |  FROM st JOIN s USING (source) JOIN c USING (tok) CROSS JOIN n
      |)
      |SELECT source, count(*) AS n_types,
      |  round(CAST(sum(CAST(klt AS DECIMAL(20,14))) AS DOUBLE), 6) AS kl_vs_corpus,
      |  round(-CAST(sum(CAST(ht AS DECIMAL(20,14))) AS DOUBLE), 6) AS token_entropy,
      |  round(CAST(sum(CAST(sqt AS DECIMAL(20,14))) AS DOUBLE), 6) AS simpson
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** X126 per-source length-distribution divergence ([[Corpus.lengthDivergence]]). */
  // X126: decile-grid KS over n_chars — quantile_cont matches Spark's
  // exact interpolated percentile (the q46 parity); both CDFs are
  // conditional sums against the same nine boundaries.
  val lengthDivergenceSql: String = {
    val sumsFor = (p: String) => (1 to 9).map(i =>
      s"sum(CASE WHEN n_chars <= b.qs[$i] THEN 1 ELSE 0 END) AS $p$i").mkString(",\n        |    ")
    val ks = (1 to 9).map(i =>
      s"abs(CAST(s$i AS DOUBLE) / n_docs - CAST(t$i AS DOUBLE) / n)").mkString(",\n        |    ")
    s"""WITH b AS (
      |  SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      |  FROM documents
      |), src AS (
      |  SELECT source, count(*) AS n_docs,
      |    ${sumsFor("s")}
      |  FROM documents, b GROUP BY source
      |), tot AS (
      |  SELECT count(*) AS n,
      |    ${sumsFor("t")}
      |  FROM documents, b
      |)
      |SELECT source, n_docs,
      |  round(greatest(
      |    $ks), 6) AS ks_stat
      |FROM src, tot ORDER BY source""".stripMargin
  }

  /** X128 Gopher-style composite quality-rule audit
    * ([[graft.operators.TextAnalysis.gopherRules]]). minWords=5 here: the
    * synthetic docs are short; production uses the paper's 50. */
  // X128: every rule is the same closed-form arithmetic over the
  // lowercased whitespace tokens; booleans fold as conditional sums.
  val gopherRulesSql: String = {
    s"""WITH d AS (
      |  SELECT source,
      |    CAST(len($toksLowerSql) AS BIGINT) AS ntok,
      |    CAST(list_aggregate(list_transform($toksLowerSql, t -> length(t)), 'sum') AS BIGINT) AS chars,
      |    CAST(len(list_filter($toksLowerSql, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha,
      |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS symbols,
      |    CAST(len(list_intersect(list_distinct($toksLowerSql), $gopherStopSql)) AS BIGINT) AS stops
      |  FROM documents
      |), r AS (
      |  SELECT source,
      |    (ntok >= 5 AND ntok <= 100000) AS r_words,
      |    (ntok > 0 AND CAST(chars AS DOUBLE) / ntok >= 3.0
      |      AND CAST(chars AS DOUBLE) / ntok <= 10.0) AS r_mean_len,
      |    (ntok > 0 AND CAST(alpha AS DOUBLE) >= 0.8 * CAST(ntok AS DOUBLE)) AS r_alpha,
      |    (ntok > 0 AND CAST(symbols AS DOUBLE) <= 0.1 * CAST(ntok AS DOUBLE)) AS r_symbol,
      |    (stops >= 2) AS r_stop
      |  FROM d
      |)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN r_words THEN 1 ELSE 0 END) AS BIGINT) AS n_words,
      |  CAST(sum(CASE WHEN r_mean_len THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_len,
      |  CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
      |  CAST(sum(CASE WHEN r_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol,
      |  CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
      |  CAST(sum(CASE WHEN r_words AND r_mean_len AND r_alpha AND r_symbol AND r_stop
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |  round(CAST(sum(CASE WHEN r_words AND r_mean_len AND r_alpha AND r_symbol AND r_stop
      |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS pass_rate
      |FROM r GROUP BY source ORDER BY source""".stripMargin
  }
}
