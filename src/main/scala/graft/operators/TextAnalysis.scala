package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, TextFunctions => TF}

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  * All pure Column expressions / DataFrame plans — no UDFs.
  */
object TextAnalysis {

  /** BPE-ish token count: runs of alphanumerics count as one token each,
    * every other non-space character counts alone — a cheap, deterministic
    * proxy for subword tokenizers. ASCII-safe pattern shared verbatim with
    * the SQL oracle. */
  val BpeTokenPattern = "[a-z0-9]+|[^a-z0-9\\s]"

  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpeTokenPattern), lit(0)))

  /** Heuristic document quality score in [0,1]
    * (reference analog: length/stopword/punctuation proxies,
    * src/lakehouse/quality/metrics/text_quality.py):
    *   0.4·min(1, tokens/50) + 0.3·(1 − stopwordRatio) + 0.3·min(1, meanWordLen/8).
    * One double expression tree — deterministic cross-engine. */
  def qualityScore(text: Column): Column = {
    val nTok = TF.tokenCount(text).cast("double")
    val nContent = TF.contentTokenCount(text).cast("double")
    // value-equal to length(regexp_replace(text, "\\s", "")) without
    // building the replaced string per row (codegen kernel)
    val chars = graft.expressions.TextExprs.non_ws_char_count(text).cast("double")
    val stopRatio = when(nTok === 0.0, lit(1.0)).otherwise(lit(1.0) - nContent / nTok)
    val meanWordLen = when(nTok === 0.0, lit(0.0)).otherwise(chars / nTok)
    lit(0.4) * least(lit(1.0), nTok / 50.0) +
      lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.3) * least(lit(1.0), meanWordLen / 8.0)
  }

  /** Rolling-hash fingerprint of normalized text (content addressing /
    * shift-resistant chunk keys). SQL-replicable via polyHash. */
  def fingerprint(text: Column): Column = Hashes.polyHash(TF.normalizeWs(text))

  // ---- Gopher-style quality filtering (public MassiveText rules:
  // Rae et al. 2021, "Scaling Language Models", appendix A1.1) ---------

  /** Total characters across tokens — `length(concat_ws("", tokens))`
    * stays in codegen (no per-token lambda). */
  def tokenChars(tokens: Column): Column = length(concat_ws("", tokens))

  /** Count of "symbol" marks (#, ellipsis) in the raw text. */
  def symbolCount(text: Column): Column =
    size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))

  /** Tokens containing at least one ASCII letter. */
  def alphaWordCount(tokens: Column): Column =
    size(filter(tokens, t => t.rlike("[A-Za-z]")))

  /** Stopword occurrences = all tokens − content tokens. */
  def stopwordCount(text: Column): Column =
    TF.tokenCount(text) - TF.contentTokenCount(text)

  /** Per-document Gopher filter verdict over precomputed integer signal
    * columns (n_words, n_token_chars, n_symbols, n_alpha_words,
    * n_stopwords). Bounds are the MassiveText defaults scaled to short
    * documents; every comparison is exact-int or a single double
    * division, so the verdict is bit-identical cross-engine. */
  def gopherPass(nWords: Column, nTokenChars: Column, nSymbols: Column,
      nAlphaWords: Column, nStopwords: Column,
      minWords: Int = 10, maxWords: Int = 100000): Column = {
    val w = nWords.cast("double")
    // SQL && evaluates every operand (no short-circuit), so guard the
    // ratios: a zero-word doc must fail the filter, not throw under ANSI
    def ratio(num: Column): Column = when(w > 0, num.cast("double") / w).otherwise(lit(-1.0))
    (nWords >= minWords) && (nWords <= maxWords) &&
      (ratio(nTokenChars) >= 2.0) && (ratio(nTokenChars) <= 10.0) &&
      (when(w > 0, nSymbols.cast("double") / w).otherwise(lit(1.0)) < 0.1) &&
      (ratio(nAlphaWords) > 0.8) &&
      (nStopwords >= 2)
  }

  /** All per-document quality signals in one map-only projection. */
  def gopherSignals(df: DataFrame, textCol: Column): DataFrame =
    df.withColumn("_tk", TF.tokens(textCol))
      .withColumn("n_words", size(col("_tk")))
      .withColumn("n_token_chars", tokenChars(col("_tk")))
      .withColumn("n_symbols", symbolCount(textCol))
      .withColumn("n_alpha_words", alphaWordCount(col("_tk")))
      .withColumn("n_stopwords", stopwordCount(textCol))
      .withColumn("gopher_pass", gopherPass(col("n_words"), col("n_token_chars"),
        col("n_symbols"), col("n_alpha_words"), col("n_stopwords")))
      .drop("_tk")

  // ---- Repetition detection (MassiveText A1.1 repetition rules) ------

  /** Per-document top-n-gram mass: the share of all word n-grams taken by
    * the single most frequent one — high values flag boilerplate/looping
    * text. Shuffles on (id, gram) then (id): scales to any corpus since
    * no per-document data exceeds its own n-gram count. Returns
    * (idCol, n_grams, top_gram, top_n, top_fraction). */
  def topNgramMass(df: DataFrame, idCol: String, textCol: Column, n: Int): DataFrame = {
    val grams = df
      .select(col(idCol), TF.tokens(textCol).as("_tk"))
      // ALL n-grams (repeats retained — mass, not membership); docs with
      // fewer than n tokens have no n-grams and drop out here
      .filter(size(col("_tk")) >= n)
      .select(col(idCol), explode(
        graft.expressions.TextExprs.word_ngrams(col("_tk"), n)).as("gram"))
    // Single pass over the gram set: count per (id, gram), then one
    // doc-keyed agg where min(struct(-cnt, gram)) IS the
    // (count desc, gram asc) argmax — struct ordering compares fields
    // left to right, so count ties resolve by min(gram) exactly like a
    // (cnt desc, gram asc) sort would. Both shuffles carry the doc id in
    // the key (no hot gram reducer), both get map-side partial combine,
    // and there is no second pass: an earlier hash+join-back variant
    // shuffled 8-byte gram hashes instead of strings but paid for it
    // with a re-explode of the corpus and three joins — measured 3×
    // slower at 10× data (6.5 s vs 2.2 s; docs/SCALE.md, "Empirical
    // scale proof").
    val counts = grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
    counts.groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_grams"),
        min(struct((-col("cnt")).as("nc"), col("gram").as("g"))).as("_w"))
      .select(col(idCol), col("n_grams"), col("_w.g").as("top_gram"),
        (-col("_w.nc")).as("top_n"),
        ((-col("_w.nc")).cast("double") / col("n_grams")).as("top_fraction"))
  }

  // ---- PII-ish pattern counting (training-data hygiene) --------------

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9() -]{6,}[0-9]"

  // counts via the codegen RegexCountExpr: size(regexp_extract_all(...))
  // materializes every match as a UTF8String just to take the length —
  // at a corpus-wide PII scan the dominant allocation for zero benefit
  def emailCount(text: Column): Column =
    graft.expressions.TextExprs.regex_count(text, EmailPattern)

  def phoneCount(text: Column): Column =
    graft.expressions.TextExprs.regex_count(text, PhonePattern)

  /** PII redaction (the apply form of the X14 counters): emails then
    * phones replaced with stable placeholder tokens. Map-only regex
    * rewrite; the placeholders survive tokenization so downstream stats
    * can count them. */
  def redactPii(text: Column,
      emailToken: String = "<EMAIL>", phoneToken: String = "<PHONE>"): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, emailToken),
      PhonePattern, phoneToken)

  /** Digit characters in the text (exact int — ratio is one division). */
  def digitCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[0-9]", ""))

  /** X84 corpus heavy hitters via per-partition Misra–Gries sketches.
    *
    * The exact top-k (q10/q55) explodes every token into a corpus-sized
    * shuffle — at 100 TB that shuffle IS the job. This operator never
    * shuffles the token stream: each partition folds its documents into a
    * bounded Misra–Gries map of at most `capacity` counters (the classic
    * decrement-all eviction), and only the ≤ partitions×capacity surviving
    * (token, count) entries reach the one final token-keyed agg.
    *
    * Guarantees (Misra–Gries, public): each partition undercounts any
    * token by at most n_p/(capacity+1); summed over partitions the global
    * undercount is ≤ N/(capacity+1), and no token with true frequency
    * > N/(capacity+1) can be missing. When every partition's distinct
    * token count stays ≤ capacity no eviction ever fires and the result
    * is EXACT — the oracle runs in that regime; production picks capacity
    * by the error budget, not the vocabulary.
    *
    * mapPartitions is deliberate: this is genuine per-partition imperative
    * sketch state (a bounded hash map), the sanctioned RDD-ish escape
    * hatch — everything before and after stays declarative.
    * Tokenization matches [[TF.tokens]] (and the shared `toksSql`
    * fragment) exactly: whitespace split, empties dropped. */
  def heavyHitters(docs: DataFrame, textCol: String = "text",
      k: Int = 20, capacity: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cap = capacity
    val sketched = docs.select(col(textCol)).as[String]
      .mapPartitions(it => mgSketch(it, cap)).toDF("token", "n")
    sketched.groupBy("token").agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** One partition's Misra–Gries fold: a bounded map of ≤ `capacity`
    * counters over the whitespace tokens of `texts`. Pure JVM (no Spark)
    * so the sketch bound is property-testable directly
    * (`MisraGriesProps`).
    *
    * Diagnosability: the first eviction in a partition logs a one-line
    * stderr warning naming the partition and capacity. The q89 oracle is
    * exact-vs-DuckDB only while no partition ever evicts (per-partition
    * vocabulary ≤ capacity); if a regenerated corpus grows the vocabulary
    * past that, a correctness mismatch would otherwise be silent — the
    * warning makes the cause readable straight from the run log. */
  private[operators] def mgSketch(texts: Iterator[String],
      capacity: Int): Iterator[(String, Long)] = {
    val m = new java.util.HashMap[String, Long]()
    var warned = false
    texts.foreach { text =>
      val arr = if (text == null) Array.empty[String] else text.split("\\s+")
      var i = 0
      while (i < arr.length) {
        val t = arr(i)
        if (t.nonEmpty) {
          val cur = m.getOrDefault(t, 0L)
          if (cur > 0L || m.size < capacity) m.put(t, cur + 1L)
          else { // full and unseen: decrement every counter, drop zeros
            if (!warned) {
              warned = true
              System.err.println(
                s"[graft] Misra-Gries eviction fired (capacity=$capacity): " +
                  "sketch is now approximate in this partition; an exact " +
                  "oracle comparison (q89) may undercount")
            }
            val itr = m.entrySet().iterator()
            while (itr.hasNext) {
              val e = itr.next()
              if (e.getValue == 1L) itr.remove() else e.setValue(e.getValue - 1L)
            }
          }
        }
        i += 1
      }
    }
    scala.jdk.CollectionConverters.IteratorHasAsScala(m.entrySet().iterator())
      .asScala.map(e => (e.getKey, e.getValue))
  }

  /** Character-trigram profile language ID, self-trained:
    *  1. "train": top `profileSize` char trigrams per label from a labeled
    *     corpus (df with labelCol), ranked by frequency;
    *  2. classify: each document scores every label by the count of its
    *     distinct trigrams that appear in the label's profile; argmax wins
    *     (ties broken by label order).
    * Returns (idCol, predicted).
    *
    * Shape: ONE exploded-trigram aggregation trains the profiles (a few
    * hundred rows — a model object, collected like IVF centroids); the
    * classify phase is then a map-side broadcast join scoring each doc's
    * sorted trigram-hash array against each profile with a codegen
    * two-pointer intersect — no cached multi-million-row exploded frame,
    * no per-trigram join. Scales as one pass + one map-only pass. */
  def langIdByTrigramProfile(df: DataFrame, idCol: String, textCol: Column,
      labelCol: String, profileSize: Int = 50,
      trainDf: Option[DataFrame] = None,
      /** Extra per-doc columns to CARRY through the classify aggregation
        * (r16) as `any_value`s — one output row per id, so a column the id
        * does not determine yields one of its values rather than extra
        * predictions. Spares the caller a corpus-sized join-back onto the
        * prediction frame just to recover them (q27's confusion matrix
        * dropped two exchanges this way). */
      carryCols: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    graft.expressions.TextExprs.register(spark)
    graft.expressions.HashFunctions.register(spark)
    import graft.expressions.{HashFunctions => HF, TextExprs => TE}
    val gramsOf = TE.distinct_char_ngrams(TF.normalizeWs(textCol), 3)
    // train: per-label top trigrams (one exploded pass, nothing cached).
    // `trainDf` lets the caller train on a deterministic sample — the
    // top-`profileSize` trigrams of a language stabilize on a fraction
    // of the corpus, and the exploded-gram aggregation is the dominant
    // cost of the whole operator, so sampling the training side scales
    // it down without touching classify coverage.
    val profile = trainDf.getOrElse(df)
      .select(col(labelCol), explode(gramsOf).as("g"))
      .groupBy(col(labelCol).as("plabel"), col("g"))
      .agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(
        Window.partitionBy("plabel").orderBy(col("n").desc, col("g"))))
      .filter(col("r") <= profileSize)
      .groupBy("plabel")
      // same hash+sort encoding as the doc side → exact set intersection
      .agg(TE.xx_sorted_hash(collect_list(col("g"))).as("parr"))
    // classify: |doc trigrams ∩ profile| via codegen sorted intersect
    val docs = df.select(
      (col(idCol) +: carryCols.map(col) :+ TE.xx_sorted_hash(gramsOf).as("gh")): _*)
    docs.crossJoin(broadcast(profile))
      .withColumn("score", HF.sorted_intersect_count(col("gh"), col("parr")))
      .groupBy(col(idCol))
      .agg(
        min_by(col("plabel"), struct(-col("score"), col("plabel"))).as("predicted"),
        (max(col("score")).as("_best") +: carryCols.map(c => any_value(col(c)).as(c))): _*)
      // a doc sharing no trigram with ANY profile is unclassifiable —
      // absent from the output, like the join-based formulation
      .filter(col("_best") > 0)
      .select((col(idCol) +: carryCols.map(col) :+ col("predicted")): _*)
  }

  /** X97 Naive Bayes quality classifier trained on a weak label — the
    * public pipeline device (GPT-3 / CCNet style) where a cheap heuristic
    * rule labels a corpus slice and a classifier generalizes it into a
    * graded quality score used for filtering or importance sampling.
    * Multinomial NB with add-one smoothing is CLOSED-FORM (counts only),
    * so unlike an iteratively-trained classifier the whole train+score
    * pipeline is SQL-recomputable and oracle-checkable.
    *
    * score(d) = ln P(pass)/P(fail) + Σ_tok ln [P(tok|pass)/P(tok|fail)],
    * with token log-ratios rounded to 6dp and summed as DECIMAL(20,12)
    * (order-free — the q82/q83 float-parity device). Docs with no tokens
    * score the bare prior.
    *
    * Scale shape: training is ONE token-keyed aggregation (the model is
    * the vocabulary table — for web-scale vocabularies, cap by document
    * frequency like [[graft.operators.Bpe]] caps its word table); the
    * prior is a broadcast 1-row frame; scoring is a token-keyed join
    * reduced straight onto the doc key — no window, no driver loop. */
  /** X103 Zipf rank–frequency fit per source: the least-squares slope of
    * ln(freq) on ln(rank) over the top-`topK` tokens — natural text sits
    * near −1 (Zipf's law); template/spam/synthetic corpora drift toward
    * flat (head-heavy boilerplate) or steep (tiny effective vocabulary)
    * slopes, which makes the slope a one-number corpus-QA signal the
    * quality battery can threshold.
    *
    * Scale shape: one token-keyed count per source (the only
    * corpus-sized shuffle, map-side combined), then ranking runs on the
    * AGGREGATED vocab table (per-source window over vocab-sized rows,
    * never the token stream) and the regression reduces the ≤ topK
    * ranked rows in closed form (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²). Oracle
    * parity: each ln() value is rounded into DECIMAL(12,6) BEFORE the
    * products, so every downstream sum is exact and partial-sum order
    * can never skew the comparison (ln itself agrees to ≥6dp across
    * engines on the integer-valued counts/ranks involved — the q96
    * precedent). Ties rank deterministically by token. */
  def zipfAudit(docs: DataFrame, textCol: Column, sourceCol: Column,
      topK: Int = 100): DataFrame = {
    require(topK >= 2, s"zipfAudit: need topK >= 2 points, got $topK")
    val counts = docs
      .select(sourceCol.as("source"), explode(TF.tokens(textCol)).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
    val ranked = counts
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("n").desc, col("tok"))))
      .filter(col("rk") <= topK)
      .select(col("source"),
        log(col("rk").cast("double")).cast("decimal(12,6)").as("x"),
        log(col("n").cast("double")).cast("decimal(12,6)").as("y"))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("k"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      // a source with ONE distinct token has one ranked point — the slope
      // denominator k·Σx² − (Σx)² is exactly zero there (x = ln 1 = 0),
      // and double 0/0 semantics differ across engines (Spark non-ANSI
      // NULL vs version-dependent IEEE NaN elsewhere). A regression
      // needs ≥ 2 points anyway, so drop the degenerate source on BOTH
      // sides (the oracle's HAVING count(*) >= 2) instead of emitting an
      // engine-dependent value.
      .filter(col("k") >= 2)
      .select(col("source"), col("k").cast("long").as("top_k"),
        round(
          (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"),
          6).as("zipf_slope"))
      .orderBy("source")
  }

  /** Decimal-exact mean of a double column (order-independent — the
    * shared X78 contract). */
  private def dmean(c: Column): Column =
    sum(c.cast("decimal(20,12)")).cast("double") / count(lit(1))

  /** X122 tokenizer fertility audit per source: bytes/token, chars/token,
    * and subword fertility (BPE-ish tokens per whitespace token). The
    * standard pre-training cost/fit audit — a source whose bytes-per-token
    * or fertility is far off corpus norm either isn't the language the
    * tokenizer was built for or isn't natural text, and its TOKEN budget
    * (what training actually pays for) diverges from its byte size.
    *
    * Scale shape: every per-doc measure is a map-only expression (byte
    * length, char length, token counts — no explode); the only shuffle is
    * the source-keyed agg with map-side partials. Ratios round to 6dp
    * before DECIMAL means (order-free, engine-exact). Docs with zero
    * whitespace tokens have no defined ratio and drop on both sides. */
  def fertilityAudit(docs: DataFrame): DataFrame = {
    val tk = TF.tokens(col("text"))
    val perDoc = docs.select(col("source"),
      octet_length(col("text")).cast("long").as("_bytes"),
      length(col("text")).cast("long").as("_chars"),
      size(tk).cast("long").as("_nws"),
      bpeishTokenCount(col("text")).cast("long").as("_nbpe"))
      .filter(col("_nws") >= 1)
      .select(col("source"),
        round(col("_bytes").cast("double") / col("_nws"), 6).as("_bpt"),
        round(col("_chars").cast("double") / col("_nws"), 6).as("_cpt"),
        round(col("_nbpe").cast("double") / col("_nws"), 6).as("_fert"))
    perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      round(dmean(col("_bpt")), 6).as("avg_bytes_per_tok"),
      round(dmean(col("_cpt")), 6).as("avg_chars_per_tok"),
      round(dmean(col("_fert")), 6).as("avg_bpe_fertility"))
      .orderBy("source")
  }

  /** X123 character-entropy audit per source: Shannon entropy (nats) of
    * each document's codepoint distribution, summarized per source with
    * the share of docs under `lowThreshold`. A Gopher-family quality
    * signal: natural prose sits ~2.6–3.1 nats; templated/repetitive or
    * binary-ish text reads far lower or higher, and the unigram WORD
    * model (X78) cannot see character-level degeneracy at all.
    *
    * Scale shape: the histogram is ONE map-only codegen pass per row
    * ([[graft.expressions.CharHistExpr]] — no per-character explode, so
    * the corpus never fans out to a (doc, char) stream); entropy folds
    * over the bounded histogram array with Spark's own `aggregate`, all
    * parity-sensitive arithmetic through the same built-in round/log the
    * 113-query surface already pins cross-engine (terms round to 12dp
    * into DECIMAL before the order-free sum); the only shuffle is the
    * source-keyed agg. Empty texts have no distribution and drop on both
    * sides. */
  def charEntropyAudit(docs: DataFrame, lowThreshold: Double = 2.0): DataFrame = {
    import graft.expressions.TextExprs
    val withEnt = docs
      .filter(length(col("text")) >= 1)
      .select(col("source"), TextExprs.char_hist(col("text")).as("_h"))
      .withColumn("_len", aggregate(col("_h"), lit(0L), (a, c) => a + c))
      .withColumn("entropy", round(
        -aggregate(col("_h"), lit(0).cast("decimal(20,14)"),
          (a, c) => (a + round((c.cast("double") / col("_len")) *
            round(log(c.cast("double") / col("_len")), 6), 12)
            .cast("decimal(20,14)")).cast("decimal(20,14)"))
          .cast("double"), 6))
    withEnt.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      round(dmean(col("entropy")), 6).as("avg_entropy"),
      round(min(col("entropy")), 6).as("min_entropy"),
      round(max(col("entropy")), 6).as("max_entropy"),
      round(sum(when(col("entropy") < lowThreshold, 1L).otherwise(0L)).cast("double")
        / count(lit(1)), 6).as("low_share"))
      .orderBy("source")
  }

  def nbQualityScores(docs: DataFrame, idCol: String, textCol: Column,
      weakLabel: Column): DataFrame = {
    val labeled = docs.select(col(idCol), weakLabel.cast("boolean").as("_y"), textCol.as("_t"))
    val tk = labeled.select(col(idCol), col("_y"), explode(TF.tokens(col("_t"))).as("tok"))
    val st = tk.groupBy("tok").agg(
      sum(when(col("_y"), 1L).otherwise(0L)).as("np"),
      sum(when(!col("_y"), 1L).otherwise(0L)).as("nn"))
    val tot = st.agg(
      sum(col("np")).as("p_total"), sum(col("nn")).as("n_total"),
      count(lit(1)).as("v"))
    val w = st.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(log(((col("np") + lit(1)).cast("double") / (col("p_total") + col("v")))
          / ((col("nn") + lit(1)).cast("double") / (col("n_total") + col("v")))), 6)
          .as("w_lr"))
    val prior = labeled.agg(
      round(log((sum(when(col("_y"), 1L).otherwise(0L)) + lit(1)).cast("double")
        / (sum(when(!col("_y"), 1L).otherwise(0L)) + lit(1))), 6).as("_prior"))
    // shuffle_hash-forced like the banded dedup self-joins: the scoring
    // join must stay token-KEYED with the vocab table as build side. Left
    // to stats, small inputs broadcast the exploded corpus token stream
    // (backwards at scale: the stream is corpus-sized, the model is
    // vocab-bounded), and a plain broadcast(w) would die past ~8 GB of
    // vocabulary; keying on tok costs one narrow (id, tok) shuffle and
    // AQE skew-split absorbs stopword-grade hot tokens.
    val tokSums = tk.join(w.hint("shuffle_hash"), "tok")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("w_lr").cast("decimal(20,12)")).cast("double").as("_wsum"))
    labeled.select(col(idCol), col("_y"))
      .join(tokSums, Seq(idCol), "left")
      .crossJoin(broadcast(prior))
      .select(
        col(idCol),
        col("_y").as("weak_label"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(col("_prior") + coalesce(col("_wsum"), lit(0.0)), 6).as("score"))
      .withColumn("predicted_pass", col("score") >= 0)
  }

  /** The Gopher rule-audit stopword list (Rae et al. 2021, §A1.1: a doc
    * must contain at least 2 of these 8 function words). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** X128 Gopher-style composite quality-rule audit (Rae et al. 2021,
    * §A1.1 — the public rule set behind MassiveText; C4/RefinedWeb ship
    * variants of the same shape): per source, how many docs pass each
    * named rule and the full gate. Unlike [[qualityScore]]'s scalar,
    * this is the FILTER-DESIGN table: per-rule pass rates show which
    * rule does the cutting on a given crawl slice, which is what one
    * tunes before burning a 100 TB pass.
    *
    * Rules (doc-level booleans, thresholds from the paper):
    *   words      — whitespace token count in [minWords, maxWords]
    *   mean_len   — mean word length in [3, 10] chars
    *   alpha      — ≥ 80% of words contain an alphabetic character
    *   symbol     — (# / … / "...") symbol-to-word ratio ≤ 0.1
    *   stop       — ≥ 2 distinct words from the 8-word Gopher stop list
    *
    * Scale shape: every rule is a map-only Column expression over the
    * token array (no explode — array aggregates fold in place), then one
    * source-keyed agg of conditional sums; pass_rate is one division of
    * exact longs. */
  /** The five X128 rule verdicts as named Columns over `textCol` — one
    * shared builder so [[gopherRules]] (the per-source audit) and the
    * curate pipeline's apply-form gate ([[graft.pipeline.CuratePipeline]])
    * decide from EXACTLY the audited expressions. All map-only. */
  def gopherRuleChecks(textCol: Column, minWords: Int = 50,
      maxWords: Int = 100000, minStopHits: Int = 2): Seq[(String, Column)] = {
    // ONE byte pass (codegen kernel) replaces the four interpreted HOF
    // walks over the token array (size / aggregate-transform length sum /
    // rlike filter / array_intersect distinct) — value-equal field by
    // field, pinned in KernelProps. Whole-stage codegen's subexpression
    // elimination evaluates the shared struct once per row.
    val st = graft.expressions.TextExprs.gopher_stats(
      lower(textCol), GopherStopwords)
    val nTok = st.getField("n_tok")
    val charSum = st.getField("char_sum")
    val meanLen = charSum.cast("double") / nTok.cast("double")
    val alphaWords = st.getField("alpha_words")
    // regex-count kernel: same value as size(regexp_extract_all(…)) with
    // no match-array allocation
    val symbols = graft.expressions.TextExprs
      .regex_count(textCol, "#|\\.\\.\\.|…").cast("long")
    val stopHits = st.getField("stop_hits")
    Seq(
      "r_words" -> (nTok >= minWords && nTok <= maxWords),
      "r_mean_len" -> (nTok > 0 && meanLen >= 3.0 && meanLen <= 10.0),
      "r_alpha" -> (nTok > 0 && alphaWords.cast("double") >= lit(0.8) * nTok.cast("double")),
      "r_symbol" -> (nTok > 0 && symbols.cast("double") <= lit(0.1) * nTok.cast("double")),
      "r_stop" -> (stopHits >= minStopHits))
  }

  /** Composite per-document Gopher verdict — the conjunction of
    * [[gopherRuleChecks]], the gate the curate pipeline filters on.
    * `minStopHits` defaults to the paper's 2; the synthetic corpus has
    * almost no English function words (q121 measures pass_rate 0.0 at
    * stops≥2), so the composed pipeline gates at 1 there — the knob
    * models per-corpus calibration, which the paper itself prescribes
    * for non-web text. */
  def gopherRulePass(textCol: Column, minWords: Int = 50,
      maxWords: Int = 100000, minStopHits: Int = 2): Column =
    gopherRuleChecks(textCol, minWords, maxWords, minStopHits).map(_._2).reduce(_ && _)

  def gopherRules(docs: DataFrame, textCol: Column, sourceCol: Column,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val checks = gopherRuleChecks(textCol, minWords, maxWords)
    val rules = docs.select(
      sourceCol.as("source") +: checks.map { case (n, c) => c.as(n) }: _*)
    def passes(c: String): Column = sum(when(col(c), 1L).otherwise(0L))
    rules
      .withColumn("r_all",
        col("r_words") && col("r_mean_len") && col("r_alpha") &&
          col("r_symbol") && col("r_stop"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        passes("r_words").as("n_words"),
        passes("r_mean_len").as("n_mean_len"),
        passes("r_alpha").as("n_alpha"),
        passes("r_symbol").as("n_symbol"),
        passes("r_stop").as("n_stop"),
        passes("r_all").as("n_pass"))
      .withColumn("pass_rate",
        round(col("n_pass").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("source")
  }
}
