package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("quality score is in [0,1] and favors longer content-rich text") {
    val df = Seq(
      ("long", Array.fill(60)("substantive").mkString(" ")),
      ("short", "a the of"))
      .toDF("k", "text")
      .select(col("k"), TextAnalysis.qualityScore(col("text")).as("s"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(m("long") > m("short"))
  }

  test("bpe-ish token count splits punctuation off words") {
    val n = Seq("hello, world!").toDF("text")
      .select(TextAnalysis.bpeishTokenCount(col("text"))).first().getInt(0)
    assert(n == 4) // hello , world !
  }

  test("fertility audit: hand-computed byte/char/subword ratios; zero-token docs drop") {
    val d = Seq(
      (1L, "ab cd!", "s1"),   // bytes 6, chars 6, nws 2, bpeish [ab][cd][!] = 3
      (2L, "xyz", "s1"),      // bytes 3, chars 3, nws 1, bpeish 1
      (3L, "   ", "s2"),      // zero tokens: must drop
      (4L, "a b", "s2"))      // bytes 3, chars 3, nws 2, bpeish 2
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.fertilityAudit(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val (n1, bpt1, cpt1, f1) = out("s1")
    assert(n1 == 2L)
    assert(math.abs(bpt1 - 3.0) < 1e-9 && math.abs(cpt1 - 3.0) < 1e-9)
    assert(math.abs(f1 - (1.5 + 1.0) / 2) < 1e-9)
    val (n2, bpt2, _, f2) = out("s2")
    assert(n2 == 1L, "the whitespace-only doc must not count")
    assert(math.abs(bpt2 - 1.5) < 1e-9 && math.abs(f2 - 1.0) < 1e-9)
  }

  test("char entropy: hand-computed distributions; empty text drops; low share flags") {
    val d = Seq(
      (1L, "aaaa", "s1"),  // single symbol: entropy 0 (low)
      (2L, "aabb", "s1"),  // uniform over 2: ln 2 = 0.693147
      (3L, "abcd", "s2"),  // uniform over 4: ln 4 = 1.386294 (2 * round(ln .25, 6) * .25 * 4)
      (4L, "", "s2"))      // empty: no distribution, drops
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.charEntropyAudit(d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val (n1, avg1, min1, max1, low1) = out("s1")
    assert(n1 == 2L)
    assert(math.abs(min1 - 0.0) < 1e-9)
    assert(math.abs(max1 - 0.693147) < 1e-9)
    assert(math.abs(avg1 - 0.6931470 / 2) < 1e-6)
    assert(math.abs(low1 - 1.0) < 1e-9, "both docs are under 2.0 nats")
    val (n2, _, min2, _, _) = out("s2")
    assert(n2 == 1L, "the empty doc must not count")
    assert(math.abs(min2 - 1.386294) < 1e-6)
  }

  test("char entropy is repartition-invariant (order-free decimal fold)") {
    val d = (0L until 60L).map(i => (i, s"doc $i " + ("xy" * (i % 5 + 1).toInt), s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val a = TextAnalysis.charEntropyAudit(d).collect().map(_.toSeq).toSeq
    val b = TextAnalysis.charEntropyAudit(d.repartition(17)).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("heavy hitters: exact regime equals the explode-groupBy truth") {
    val docs = Seq("a b a", "b c b a", "d d d d").toDF("text").repartition(3)
    val got = TextAnalysis.heavyHitters(docs, k = 10, capacity = 100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("d", 4L), ("a", 3L), ("b", 3L), ("c", 1L)))
  }

  test("heavy hitters: tiny capacity never overcounts, keeps undercount within N/(c+1), never misses a true heavy hitter") {
    // 50 "hot" + 30 unique singletons over 4 partitions; capacity 4
    // bound: global undercount <= N/(c+1) = 80/5 = 16 < hot's true 50
    val texts = Seq.fill(25)("hot hot") ++ (1 to 30).map(i => s"u$i")
    val docs = texts.toDF("text").repartition(4)
    val got = TextAnalysis.heavyHitters(docs, k = 1000, capacity = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = (Map("hot" -> 50L) ++ (1 to 30).map(i => s"u$i" -> 1L)).withDefaultValue(0L)
    assert(got.contains("hot"), s"true heavy hitter evicted: $got")
    assert(got("hot") >= 50L - 16L && got("hot") <= 50L, s"hot=${got("hot")}")
    got.foreach { case (t, n) => assert(n <= truth(t), s"overcount on $t: $n > ${truth(t)}") }
  }

  test("fingerprint is stable under whitespace/case variation only") {
    val df = Seq(("A  b", "a b", "a c")).toDF("x", "y", "z")
    val r = df.select(TextAnalysis.fingerprint(col("x")),
      TextAnalysis.fingerprint(col("y")), TextAnalysis.fingerprint(col("z"))).first()
    assert(r.getLong(0) == r.getLong(1) && r.getLong(0) != r.getLong(2))
  }

  test("gopher signals: planted good/bad docs split correctly") {
    val good = ("good",
      "the quick brown fox jumps over a lazy dog while the rain keeps falling on town")
    val tooShort = ("short", "tiny text here")
    val symbolHeavy = ("symbols",
      "the a " + Array.fill(20)("### ... #").mkString(" "))
    val noStopwords = ("nostop",
      Array.fill(15)("substantive wording examples").mkString(" "))
    val df = Seq(good, tooShort, symbolHeavy, noStopwords).toDF("k", "text")
    val out = TextAnalysis.gopherSignals(df, col("text")).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Boolean]("gopher_pass")).toMap
    assert(out("good"))
    assert(!out("short"))    // below word minimum
    assert(!out("symbols"))  // symbol ratio + alpha fraction
    assert(!out("nostop"))   // < 2 stopwords
  }

  test("top-ngram mass flags the repetitive document") {
    val df = Seq(
      (1L, "buy now buy now buy now buy now buy now"),
      (2L, "each word differs from the next word mostly here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.topNgramMass(df, "doc_id", col("text"), 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("top_gram"), r.getAs[Double]("top_fraction")))).toMap
    // doc 1: 9 bigrams, "buy now" appears 5 times
    assert(out(1L)._1 == "buy now")
    assert(math.abs(out(1L)._2 - 5.0 / 9.0) < 1e-12)
    assert(out(1L)._2 > out(2L)._2)
    // a doc with < 2 tokens has no bigrams and is absent
    val single = Seq((9L, "one")).toDF("doc_id", "text")
    assert(TextAnalysis.topNgramMass(single, "doc_id", col("text"), 2).count() == 0)
  }

  test("top-ngram mass matches a naive reference on a seeded random corpus, ties included") {
    val rnd = new scala.util.Random(42)
    val vocab = Array("ax", "bo", "ce", "du") // tiny vocab forces count ties
    val docs = (1L to 60L).map { id =>
      id -> Array.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val got = TextAnalysis.topNgramMass(df, "doc_id", col("text"), 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[String]("top_gram"), r.getAs[Long]("top_n"))))
      .toMap
    val want = docs.map { case (id, text) =>
      val tk = text.split(" ")
      val grams = tk.sliding(2).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
      // argmax by (count desc, gram asc) — the contract ties must follow
      val (g, n) = counts.toSeq.minBy { case (gr, c) => (-c, gr) }
      id -> ((grams.size.toLong, g, n))
    }.toMap
    assert(got == want)
  }

  test("pii counters: emails, phone-like runs, digit chars") {
    val df = Seq(
      "contact me at jane.doe+spam@example.co.uk or +1 (555) 123-4567 room 42")
      .toDF("text")
    val r = df.select(
      TextAnalysis.emailCount(col("text")).as("e"),
      TextAnalysis.phoneCount(col("text")).as("p"),
      TextAnalysis.digitCount(col("text")).as("d")).first()
    assert(r.getAs[Long]("e") == 1L)
    assert(r.getAs[Long]("p") == 1L)
    assert(r.getAs[Int]("d") == 13) // 1 555 123 4567 42
  }

  test("regex_count matches size(regexp_extract_all) on edge inputs") {
    import graft.expressions.TextExprs
    val rows = Seq(
      "a@b.co c@d.org plain", "", "no matches here",
      "x@y.zz@w.qq", "tab\t a@b.cc \n d@e.ff")
    val df = rows.toDF("t")
    for (p <- Seq(TextAnalysis.EmailPattern, TextAnalysis.PhonePattern, "a*")) {
      val got = df.select(TextExprs.regex_count(col("t"), p)).as[Long].collect().toSeq
      val want = df.select(
        size(regexp_extract_all(col("t"), lit(p), lit(0))).cast("long"))
        .as[Long].collect().toSeq
      assert(got == want, s"pattern $p: $got vs $want")
    }
  }

  test("trigram langid separates two synthetic 'languages'") {
    val langA = (1 to 20).map(i => (i.toLong, "aaa bbb aab abb aba bab", "A"))
    val langB = (21 to 40).map(i => (i.toLong, "xxx yyy xxy xyy xyx yxy", "B"))
    val df = (langA ++ langB).toDF("doc_id", "text", "lang")
    val pred = TextAnalysis.langIdByTrigramProfile(df, "doc_id", col("text"), "lang")
    val joined = df.join(pred, "doc_id")
      .select(col("lang"), col("predicted")).collect()
    assert(joined.forall(r => r.getString(0) == r.getString(1)))
  }

  test("trigram langid: one prediction per id when a carried column varies within the id") {
    val langA = (1 to 20).map(i => (i.toLong, "aaa bbb aab abb aba bab", "A", "web"))
    val langB = (21 to 40).map(i => (i.toLong, "xxx yyy xxy xyy xyx yxy", "B", "web"))
    // doc 1 arrives twice from different sources: the id does not determine `source`
    val df = (langA ++ langB :+ ((1L, "aaa bbb aab abb aba bab", "A", "books")))
      .toDF("doc_id", "text", "lang", "source")
    val pred = TextAnalysis.langIdByTrigramProfile(df, "doc_id", col("text"), "lang",
      carryCols = Seq("lang", "source"))
    assert(pred.columns.toSeq == Seq("doc_id", "lang", "source", "predicted"))
    val rows = pred.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 40L))
    assert(rows.forall(r => r.getString(1) == r.getString(3)))
  }

  test("zipf audit: hand-computed slope; flat corpus -> slope 0; repartition-invariant") {
    // source a: counts 4/2/1 for tokens x/y/z -> three ranked points
    val aText = (Seq.fill(4)("xx") ++ Seq.fill(2)("yy") ++ Seq("zz")).mkString(" ")
    // source b: all counts equal (2,2,2) -> ln(freq) constant -> slope 0
    val bText = "pp pp qq qq rr rr"
    val df = Seq((1L, aText, "a"), (2L, bText, "b")).toDF("doc_id", "text", "source")
    def expected(points: Seq[(Double, Double)]): Double = {
      def r6(v: Double) = math.rint(v * 1e6) / 1e6 // the DECIMAL(12,6) rounding
      val p = points.map { case (x, y) => (r6(math.log(x)), r6(math.log(y))) }
      val (k, sx, sy) = (p.size.toDouble, p.map(_._1).sum, p.map(_._2).sum)
      val (sxy, sxx) = (p.map(q => q._1 * q._2).sum, p.map(q => q._1 * q._1).sum)
      (k * sxy - sx * sy) / (k * sxx - sx * sx)
    }
    val out = TextAnalysis.zipfAudit(df, col("text"), col("source"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("a")._1 == 3L)
    assert(math.abs(out("a")._2 - expected(Seq((1.0, 4.0), (2.0, 2.0), (3.0, 1.0)))) < 1e-5)
    assert(out("b") == ((3L, 0.0)))
    val re = TextAnalysis.zipfAudit(df.repartition(5), col("text"), col("source"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(re("a") == out("a")._2 && re("b") == 0.0)
  }

  test("zipf audit: a single-distinct-token source is dropped, not an engine-dependent 0/0") {
    // source 'deg' has one ranked point (x = ln 1 = 0) -> the slope
    // denominator is exactly zero; both engines drop the source (the
    // oracle's HAVING count(*) >= 2) instead of dividing by zero
    val df = Seq(
      (1L, "solo solo solo", "deg"),
      (2L, "aa aa bb", "ok")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.zipfAudit(df, col("text"), col("source"))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("ok"))
  }

  test("X128 gopher rules: each named rule cuts exactly its designed failure") {
    // one source per doc so each output row isolates one rule
    val docs = Seq(
      // passes every rule: 14 words, mean len ~3.2, all alphabetic,
      // no symbols, 8 distinct stopwords
      ("s_pass", "the cat and the dog have fun with that thing be good to of"),
      // fails words only (2 < minWords=5) — still hits 2 stopwords? no:
      // "the cat" has 1 stopword, so keep expectations per-column below
      ("s_words", "the cat"),
      // fails mean_len (every word 2 chars < 3); hits 0 stopwords too
      ("s_short", "ab ab ab ab ab ab"),
      // fails alpha (5 of 7 words are digits > 20%); mean len 30/7 ok;
      // stopwords ok
      ("s_digit", "12345 23456 34567 45678 56789 the of"),
      // fails symbol (3 symbols / 7 words > 0.1) AND alpha (4/7 words
      // alphabetic); mean len 24/7 ok; stopwords ok
      ("s_sym", "# # # elephant the of elephant"),
      // fails stop (zero stopwords)
      ("s_stop", "cat dog fish bird wolf lion tiger"))
      .toDF("source", "text")
    val out = TextAnalysis.gopherRules(docs, col("text"), col("source"), minWords = 5)
      .collect().map(r => r.getString(0) -> r).toMap
    def row(s: String): (Long, Long, Long, Long, Long, Long, Long) = {
      val r = out(s)
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"), r.getAs[Long]("n_mean_len"),
        r.getAs[Long]("n_alpha"), r.getAs[Long]("n_symbol"), r.getAs[Long]("n_stop"),
        r.getAs[Long]("n_pass"))
    }
    assert(row("s_pass") == ((1L, 1L, 1L, 1L, 1L, 1L, 1L)))
    assert(out("s_pass").getAs[Double]("pass_rate") == 1.0)
    assert(row("s_words") == ((1L, 0L, 1L, 1L, 1L, 0L, 0L))) // 1 stopword < 2
    assert(row("s_short") == ((1L, 1L, 0L, 1L, 1L, 0L, 0L)))
    assert(row("s_digit") == ((1L, 1L, 1L, 0L, 1L, 1L, 0L)))
    assert(row("s_sym") == ((1L, 1L, 1L, 0L, 0L, 1L, 0L))) // '#' words are non-alpha too
    assert(row("s_stop") == ((1L, 1L, 1L, 1L, 1L, 0L, 0L)))
  }
}
