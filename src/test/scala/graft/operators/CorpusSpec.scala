package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Semantic checks for the corpus-curation operators on crafted docs. */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs(rows: (Long, String, String, String)*): DataFrame =
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))

  test("decontamination flags a doc that copies a benchmark doc") {
    // doc 0 (doc_id % 20 == 0) is the benchmark; doc 1 repeats it verbatim,
    // doc 2 shares nothing with it.
    val d = docs(
      (0L, "alpha beta gamma delta epsilon", "en", "s0"),
      (1L, "alpha beta gamma delta epsilon", "en", "s0"),
      (2L, "zero one two three four five six", "en", "s0"))
    val out = Corpus.decontaminationStats(d).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_docs") == 2)          // benchmark doc excluded
    assert(r.getAs[Long]("n_contaminated") == 1)  // the verbatim copy
    assert(r.getAs[Double]("max_overlap") == 1.0)
    assert(r.getAs[Double]("avg_overlap") == 0.5)
  }

  test("decontamination: doc shorter than n grams counts as clean") {
    val d = docs(
      (0L, "alpha beta gamma", "en", "s0"),
      (1L, "tiny doc", "en", "s0")) // < 3 tokens → zero grams → frac 0
    val r = Corpus.decontaminationStats(d).collect().head
    assert(r.getAs[Long]("n_contaminated") == 0)
    assert(r.getAs[Double]("max_overlap") == 0.0)
  }

  test("curriculum deciles: decile 10 keeps everything, totals preserved") {
    val d = docs((1L to 40L).map(i =>
      (i, Seq.fill((i % 7 + 1).toInt)("w" + i).mkString(" "), "en", "s0")): _*)
    val out = Corpus.curriculumDeciles(d).collect()
    assert(out.map(_.getAs[Int]("decile")).toSet == (1 to 10).toSet)
    assert(out.map(_.getAs[Long]("n_docs")).sum == 40)
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      // pmod(hash,10) < 10 is always true: the top decile keeps all docs
      if (r.getAs[Int]("decile") == 10)
        assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_docs"))
    }
  }

  test("mixture weights: capped, shares sum to 100, planned_n = floor(n*w)") {
    val d = docs(
      ((1L to 90L).map(i => (i, "x", "en", "big")) ++
        (91L to 100L).map(i => (i, "x", "en", "rare"))): _*)
    val out = Corpus.mixtureWeights(d).collect()
    val byluSrc = out.map(r => r.getAs[String]("source") -> r).toMap
    assert(math.abs(out.map(_.getAs[Double]("share_pct")).sum - 100.0) < 1e-6)
    // rare source: target 0.5 vs share 0.1 → uncapped weight 5 → capped at 3
    assert(byluSrc("rare").getAs[Double]("mix_weight") == 3.0)
    assert(byluSrc("rare").getAs[Long]("planned_n") == 30)
    out.foreach(r => assert(r.getAs[Double]("mix_weight") <= 3.0))
  }

  test("boilerplate: a bigram present in every doc is flagged") {
    // "click here" appears in all 4 docs (df=100% > 25%); the rest is unique.
    val d = docs(
      (1L, "click here now a b", "en", "s0"),
      (2L, "click here later c d", "en", "s0"),
      (3L, "click here e f g", "en", "s0"),
      (4L, "click here", "en", "s0")) // 1 gram, 100% boilerplate → flagged
    val r = Corpus.boilerplateStats(d).collect().head
    assert(r.getAs[Long]("n_docs") == 4)
    assert(r.getAs[Long]("n_flagged") >= 1)       // doc 4 is pure boilerplate
    assert(r.getAs[Double]("avg_boiler_ratio") > 0.0)
  }

  test("tfidf: corpus-wide terms score zero, distinctive terms rank first") {
    val d = docs(
      (1L, "common shark shark shark", "en", "s0"),
      (2L, "common whale", "en", "s0"),
      (3L, "common squid", "en", "s0"))
    val out = Corpus.tfidfTopTerms(d, k = 5).collect()
    val byTerm = out.map(r => r.getAs[String]("term") -> r).toMap
    assert(byTerm("common").getAs[Double]("tfidf") == 0.0) // idf = ln(1) = 0
    // shark: tf=3, df=1 → 3·ln(3) — the top term
    assert(out.minBy(_.getAs[Int]("rnk")).getAs[String]("term") == "shark")
    out.foreach(r => assert(r.getAs[Int]("rnk") <= 5))
  }

  test("applyCurriculum keeps exactly the rows the decile stats count") {
    val d = docs((1L to 40L).map(i =>
      (i, Seq.fill((i % 7 + 1).toInt)("w" + i).mkString(" "), "en", "s0")): _*)
    val expected = Corpus.curriculumDeciles(d)
      .agg(org.apache.spark.sql.functions.sum("n_kept")).head().getLong(0)
    assert(Corpus.applyCurriculum(d).count() == expected)
    // schema untouched by the apply
    assert(Corpus.applyCurriculum(d).columns.toSeq == d.columns.toSeq)
  }

  test("applyMixture upsamples rare sources by their capped weight, deterministically") {
    val d = docs(
      ((1L to 90L).map(i => (i, "x", "en", "big")) ++
        (91L to 100L).map(i => (i, "x", "en", "rare"))): _*)
    val out = Corpus.applyMixture(d)
    // rare: weight capped at exactly 3.0 → exactly 3 copies of 10 rows
    assert(out.filter(org.apache.spark.sql.functions.col("source") === "rare")
      .count() == 30)
    // big: weight 0.5555… → roughly half kept, and deterministic
    val big1 = out.filter(org.apache.spark.sql.functions.col("source") === "big").count()
    val big2 = Corpus.applyMixture(d)
      .filter(org.apache.spark.sql.functions.col("source") === "big").count()
    assert(big1 == big2)
    assert(big1 > 30 && big1 < 70, s"big kept $big1 of 90")
  }

  test("applyUnimax emits nothing for a zero-epoch source (sequence(1,0) guard)") {
    import org.apache.spark.sql.functions.{col, expr}
    // a source of token-less docs gets epochs = 0.0 from the water-fill;
    // unguarded, Spark's sequence(1, 0) = DESCENDING [1, 0] and the
    // copy=0 row passes copy <= floor(0.0) — it must emit nothing
    val d = docs(
      (1L, "a b c d", "en", "s0"),
      (2L, "", "en", "empty"),
      (3L, "", "en", "empty"))
      .withColumn("n_tok",
        expr("size(filter(split(text, ' '), t -> length(t) > 0))").cast("long"))
    val out = Corpus.applyUnimax(d, col("n_tok"), 1.25, 1.4)
    assert(out.filter(col("source") === "empty").count() == 0)
    assert(out.filter(col("copy") <= 0).count() == 0)
    assert(out.filter(col("source") === "s0").count() >= 1)
  }

  test("perplexity: sources of corpus-common tokens score lower NLL than rare-token sources") {
    // 8 docs of the same common tokens vs 2 docs of singleton tokens: the
    // unigram LM assigns the common tokens much higher probability.
    val common = (1L to 8L).map(i => (i, "alpha beta gamma alpha beta", "en", "common"))
    val rare = Seq(
      (9L, "qq ww ee rr tt", "en", "rare"),
      (10L, "yy uu ii oo pp", "en", "rare"))
    val out = Corpus.perplexityBuckets(docs(common ++ rare: _*))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out("common").getAs[Long]("n_docs") == 8)
    assert(out("rare").getAs[Long]("n_docs") == 2)
    assert(out("common").getAs[Double]("avg_nll") < out("rare").getAs[Double]("avg_nll"))
    assert(out("common").getAs[Double]("min_nll") <= out("common").getAs[Double]("max_nll"))
  }

  test("importance weights: raw docs wearing target-domain tokens outrank the rest") {
    // Target (en) vocabulary is {spark, scala}; raw doc 20 uses it, raw
    // doc 21 does not — DSIR log-ratio must rank 20 first with score > 0.
    val d = docs(
      (1L, "spark scala spark scala spark", "en", "s0"),
      (2L, "spark scala catalyst", "en", "s0"),
      (20L, "spark scala spark", "de", "s0"),
      (21L, "der die das und", "de", "s0"))
    val out = Corpus.importanceWeights(d).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(20L, 21L)) // desc by score
    assert(out.head.getAs[Double]("score") > 0.0)
    assert(out.last.getAs[Double]("score") < 0.0)
    assert(out.head.getAs[Long]("n_tokens") == 3)
  }

  test("truncation audit: interpolated p95 cap, only the outlier pays") {
    // Lengths 1..19 and one 1000-token doc: p95 sits at rank 18.05 →
    // 19 + 0.05·(1000-19) = 68.05, cap ceil = 69, only the outlier is cut.
    val d = docs(((1L to 19L).map(i =>
      (i, Seq.fill(i.toInt)("w").mkString(" "), "en", "s0")) :+
      (20L, Seq.fill(1000)("w").mkString(" "), "en", "s0")): _*)
    val r = Corpus.truncationAudit(d).collect().head
    assert(r.getAs[Long]("n_docs") == 20)
    assert(r.getAs[Long]("total_tokens") == 190 + 1000)
    assert(math.abs(r.getAs[Double]("p95_tokens") - 68.05) < 1e-9)
    assert(r.getAs[Long]("n_truncated") == 1)
    assert(r.getAs[Long]("tokens_dropped") == 1000 - 69)
  }

  test("group split: every user lands in exactly one split, totals conserved") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.EventQueries.groupSplit(spark, dir).collect()
    assert(out.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
    val events = graft.Tables.events(spark, dir)
    assert(out.map(_.getAs[Long]("n_events")).sum == events.count())
    // group-awareness: split is a function of user_id, so the per-split
    // distinct-user counts must sum to the global distinct-user count
    assert(out.map(_.getAs[Long]("n_users")).sum ==
      events.select("user_id").distinct().count())
    assert(math.abs(out.map(_.getAs[Double]("pct_events")).sum - 100.0) < 1e-6)
  }

  test("sliding chunks: offsets tile the doc with the configured overlap, stats agree") {
    // 100 tokens, size 10 / stride 8: chunks start at 0,8,…; last window
    // must still reach the final token
    val d = docs((1L, Seq.fill(100)("w").mkString(" "), "en", "s0"))
    val chunks = Corpus.slidingChunks(d, size = 10, stride = 8)
      .orderBy("chunk_id").collect()
    val starts = chunks.map(_.getAs[Long]("start_tok"))
    assert(starts.toSeq == starts.indices.map(_ * 8L))
    // coverage: union of [start, start+len) is exactly [0, 100)
    val covered = chunks.flatMap(r =>
      r.getAs[Long]("start_tok") until
        (r.getAs[Long]("start_tok") + r.getAs[Long]("chunk_tokens"))).toSet
    assert(covered == (0L until 100L).toSet)
    // closed-form stats match the exploded layout
    val s = Corpus.chunkingStats(d, size = 10, stride = 8).collect().head
    assert(s.getAs[Long]("n_chunks") == chunks.length)
    assert(s.getAs[Long]("chunk_tokens") ==
      chunks.map(_.getAs[Long]("chunk_tokens")).sum)
    assert(s.getAs[Long]("n_multi_chunk") == 1)
  }

  test("sliding chunks: short and empty docs emit exactly one chunk") {
    val d = docs(
      (1L, "a b c", "en", "s0"),   // 3 tokens < size
      (2L, "", "en", "s0"))        // empty
    val chunks = Corpus.slidingChunks(d, size = 10, stride = 8).collect()
    assert(chunks.length == 2)
    assert(chunks.forall(_.getAs[Long]("chunk_id") == 0L))
    val s = Corpus.chunkingStats(d, size = 10, stride = 8).collect().head
    assert(s.getAs[Long]("n_chunks") == 2 && s.getAs[Long]("n_multi_chunk") == 0)
    assert(s.getAs[Double]("inflation") == 1.0) // no overlap cost below size
  }

  test("cross-corpus dedup: new docs matching the base are dropped; new-vs-new dups are not") {
    // base = even ids, new = odd ids. Doc 1 copies base doc 2 verbatim →
    // dropped. Docs 3 and 5 duplicate EACH OTHER but nothing in the base:
    // incremental dedup must keep both (self-dedup is a separate pass).
    val d = docs(
      (2L, "alpha beta gamma delta epsilon zeta", "en", "s0"),
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s0"),
      (3L, "one two three four five six seven", "en", "s0"),
      (5L, "one two three four five six seven", "en", "s0"),
      (7L, "totally different words in this new document", "en", "s1"))
    val out = Corpus.crossCorpusDedup(d)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out("s0").getAs[Long]("n_new") == 3)     // ids 1, 3, 5
    assert(out("s0").getAs[Long]("n_dropped") == 1) // only id 1
    assert(out("s1").getAs[Long]("n_dropped") == 0)
    assert(out("s0").getAs[Double]("drop_rate") == 0.333333)
  }

  test("chunking closed form equals the exploded layout for every length 0..120") {
    import org.apache.spark.sql.functions.{count => cnt, lit, sum => sm}
    val d = docs((0L to 120L).map(i =>
      (i, Seq.fill(i.toInt)("w").mkString(" "), "en", "s" + (i % 3))): _*)
    for ((size, stride) <- Seq((16, 16), (16, 8), (10, 3), (64, 48))) {
      val exploded = Corpus.slidingChunks(d, size, stride)
        .groupBy("source")
        .agg(cnt(lit(1)).as("n_chunks"), sm("chunk_tokens").as("chunk_tokens"))
        .collect().map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_chunks"), r.getAs[Long]("chunk_tokens"))).toMap
      val closed = Corpus.chunkingStats(d, size, stride).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_chunks"), r.getAs[Long]("chunk_tokens"))).toMap
      assert(exploded == closed, s"size=$size stride=$stride")
    }
  }

  test("cross-corpus dedup matches a brute-force jaccard reference on random docs") {
    val rng = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val rows = (1L to 40L).map { i =>
      val n = 3 + rng.nextInt(10)
      (i, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "), "en", "s" + (i % 2))
    }
    def grams(text: String): Set[Seq[String]] = {
      val tk = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (tk.size < 3) Set.empty else tk.sliding(3).map(_.toSeq).toSet
    }
    val g = rows.map { case (id, t, _, _) => id -> grams(t) }.toMap
    val expected = rows.filter(_._1 % 2 == 1).groupBy(_._4).map { case (src, rs) =>
      src -> rs.count { case (idn, _, _, _) =>
        rows.exists { case (idb, _, _, _) =>
          idb % 2 == 0 && g(idn).nonEmpty && g(idb).nonEmpty && {
            val i = (g(idn) & g(idb)).size
            i.toDouble / (g(idn).size + g(idb).size - i) >= 0.5
          }
        }
      }.toLong
    }
    val got = Corpus.crossCorpusDedup(docs(rows: _*)).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_dropped")).toMap
    // only sources that actually contain new (odd-id) docs appear
    assert(got == expected.filter { case (s, _) =>
      rows.exists(r => r._4 == s && r._1 % 2 == 1) })
  }

  test("weighted sample: deterministic, ranked by the ES key, dominated by heavy docs") {
    // doc_id 1..100 heavy (w=1000), 101..200 light (w=10)
    val docs = (1L to 200L)
      .map(i => (i, "s", if (i <= 100) 1000L else 10L))
      .toDF("doc_id", "source", "n_chars")
    val out = Corpus.weightedSample(docs, k = 30).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(out.length == 30)
    val keys = out.map(_._3)
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b }, "es_key not descending")
    // second run identical — the sample is a pure function of doc_id
    val again = Corpus.weightedSample(docs, k = 30).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == again.toSeq)
    // 100x weight should essentially own the sample
    assert(out.count(_._2 == 1000L) >= 25, s"heavy docs under-sampled: $out")
    // spot-check the key formula on the top row
    val (id, w, key) = out.head
    val u = ((id * 1103515245L + 12345L) % 2147483647L + 1L).toDouble / 2147483648.0
    val expect = BigDecimal(math.log(u) / w.toDouble)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(key - expect) < 1e-12, s"key=$key expect=$expect")
  }

  test("FFD packing: docs whole, hard cap respected, optimal fill on the skewed layout") {
    def doc(id: Long, n: Int) = (id, Seq.fill(n)("w").mkString(" "))
    val docs = (Seq(300, 300, 300, 212, 212, 212, 100, 100, 100).zipWithIndex
      .map { case (n, i) => doc(i.toLong, n) })
      .toDF("doc_id", "text").coalesce(1)
    val out = Corpus.packFirstFitDecreasing(docs, budget = 512).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(out.length == 9, "every doc assigned exactly once")
    val byPack = out.groupBy(t => (t._3, t._4)).view.mapValues(_.map(_._2).sum).toMap
    assert(byPack.values.forall(_ <= 512L), s"pack over budget: $byPack")
    // FFD pairs each 300 with a 212 and gathers the 100s: 4 packs total
    // (3 x 512 exactly + one 300)
    assert(byPack.size == 4, s"expected the optimal 4 packs: $byPack")
    assert(byPack.values.count(_ == 512L) == 3)
  }

  test("FFD packing: an oversize doc gets a singleton pack; nothing joins it") {
    val docs = Seq(
      (1L, Seq.fill(25)("w").mkString(" ")),
      (2L, Seq.fill(4)("w").mkString(" ")),
      (3L, Seq.fill(5)("w").mkString(" ")))
      .toDF("doc_id", "text").coalesce(1)
    val out = Corpus.packFirstFitDecreasing(docs, budget = 10).collect()
      .map(r => (r.getLong(0), r.getInt(3)))
    val packOf = out.toMap
    assert(packOf(2L) == packOf(3L), "small docs share a pack")
    assert(packOf(1L) != packOf(2L), "the oversize doc packs alone")
  }

  test("FirstFitTree matches the reference linear first-fit exactly (incl. oversize)") {
    val rng = new scala.util.Random(7)
    def linearFF(sizes: Seq[Long], budget: Long): Seq[Int] = {
      val packTok = scala.collection.mutable.ArrayBuffer.empty[Long]
      sizes.map { n =>
        var i = 0
        while (i < packTok.length && packTok(i) + n > budget) i += 1
        if (i == packTok.length) packTok += 0L
        packTok(i) += n
        i
      }
    }
    for (trial <- 0 until 5) {
      val budget = 50L
      val sizes = Seq.fill(3000)(
        if (rng.nextInt(20) == 0) 60L + rng.nextInt(40)  // oversize singletons
        else 1L + rng.nextInt(30))
        .sorted(Ordering[Long].reverse) // FFD feeds the fit in decreasing order
      val tree = new Corpus.FirstFitTree(budget)
      val got = sizes.map(tree.place)
      assert(got == linearFF(sizes, budget), s"trial $trial diverged")
    }
  }

  test("FirstFitTree: adversarial fat partition (200k short docs, tiny budget) stays O(n log n)") {
    // 200k docs of 1-3 tokens, budget 4 → ~100k packs. The old linear
    // scan was O(n·P) ≈ 2e10 steps here; the tree must sail through.
    val budget = 4L
    val rng = new scala.util.Random(13)
    val sizes = Array.fill(200000)(1L + rng.nextInt(3)).sorted.reverse
    val tree = new Corpus.FirstFitTree(budget)
    val packSum = scala.collection.mutable.Map.empty[Int, Long]
    sizes.foreach { n =>
      val p = tree.place(n)
      packSum(p) = packSum.getOrElse(p, 0L) + n
    }
    assert(packSum.values.forall(_ <= budget), "hard cap violated")
    // every pack except possibly the last-opened ones is near-full: FFD
    // with sizes <= budget wastes < smallest-doc per closed pack
    assert(packSum.size < 110000, s"pack count blew up: ${packSum.size}")
  }

  test("cross-corpus df cap: a planted boilerplate gram stops generating candidate pairs") {
    // 40 new + 40 base docs ALL share gram "bp"; one true dup pair (new 1,
    // base 2) shares three real grams. Uncapped: the boilerplate gram
    // alone generates 40x40 candidates. Capped at df 10: only the real
    // pair survives candidate generation.
    def side(ids: Seq[Long], extra: Long => Seq[String]): DataFrame =
      ids.map(i => (i, ("bp" +: extra(i)).distinct, ("bp" +: extra(i)).distinct.size))
        .toDF("doc_id", "sh", "sz")
    val newS = side(1L to 79L by 2, i =>
      if (i == 1L) Seq("d1", "d2", "d3") else Seq(s"n$i-a", s"n$i-b"))
    val baseS = side(2L to 80L by 2, i =>
      if (i == 2L) Seq("d1", "d2", "d3") else Seq(s"b$i-a", s"b$i-b"))
    val uncapped = Corpus.crossCorpusCandidates(newS, baseS).count()
    assert(uncapped == 40L * 40L, s"expected the boilerplate blow-up, got $uncapped")
    val capped = Corpus.crossCorpusCandidates(newS, baseS, maxDocFreq = 10).collect()
    assert(capped.length == 1, s"expected only the true pair: ${capped.toSeq}")
    assert(capped.head.getLong(0) == 1L && capped.head.getLong(1) == 2L)
  }

  test("cross-corpus dedup report is cap-invariant when dups share non-boilerplate grams") {
    // every doc starts with the same 4-token boilerplate header; new doc 1
    // duplicates base doc 2 including real content. With the cap the
    // header grams are pruned but the content grams still pair 1 with 2.
    val header = "terms of service apply"
    val d = docs(
      (2L, s"$header alpha beta gamma delta epsilon zeta", "en", "s0"),
      (1L, s"$header alpha beta gamma delta epsilon zeta", "en", "s0"),
      (3L, s"$header one two three four five six", "en", "s0"),
      (4L, s"$header nine ten eleven twelve thirteen", "en", "s0"),
      (5L, s"$header moon sun star cloud rain snow", "en", "s0"),
      (6L, s"$header red green blue yellow purple", "en", "s0"))
    val uncapped = Corpus.crossCorpusDedup(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val capped = Corpus.crossCorpusDedup(d, maxDocFreq = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(uncapped == capped, s"cap changed the report: $uncapped vs $capped")
    assert(capped.head == (("s0", 3L, 1L))) // ids 1,3,5 new; only 1 dropped
  }

  test("temperature mixture: sqrt scaling upsamples the small source") {
    // s0: 16 docs, s1: 1 doc -> raw shares 16/17, 1/17; temp shares 4/5, 1/5
    val d = docs(((1L to 16L).map(i => (i, s"text $i", "en", "s0")) :+
      ((17L, "text 17", "en", "s1"))): _*)
    val out = Corpus.temperatureMixture(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(out.map(t => (t._1, t._2)) == Seq(("s0", 16L), ("s1", 1L)))
    val Seq(s0, s1) = out
    assert(math.abs(s0._4 - 80.0) < 1e-9 && math.abs(s1._4 - 20.0) < 1e-9,
      s"temp shares: $out")
    // the small source upsamples (factor > 1), the big one downsamples
    assert(s1._5 > 1.0 && s0._5 < 1.0, s"upsample factors: $out")
    // sqrt temperature: s1 jumps from 1/17 ~ 5.9% raw to 20% sampled
    assert(math.abs(s1._3 - 100.0 / 17) < 1e-6)
  }

  test("source overlap: exact pair Jaccard, disjoint pairs present at 0") {
    // s0/s1 share bigrams "a b" and "b c" (s0 vocab {a b, b c}, s1 vocab
    // {a b, b c, c d}); s2 is disjoint from both
    val d = docs(
      (1L, "a b c", "en", "s0"),
      (2L, "a b c d", "en", "s1"),
      (3L, "x y z", "en", "s2"))
    val out = Corpus.sourceOverlap(d).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_common"),
          r.getAs[Double]("jaccard")))).toMap
    assert(out(("s0", "s1")) == ((2L, 3L, 2L, 0.666667)), s"s0/s1: $out")
    assert(out(("s0", "s2")) == ((2L, 2L, 0L, 0.0)), s"s0/s2 must be 0, not absent: $out")
    assert(out(("s1", "s2")) == ((3L, 2L, 0L, 0.0)), s"s1/s2: $out")
  }

  test("packing: sequential 512-token packs with boundary docs kept whole") {
    // 10 docs × 100 tokens: packs cut at tokensBefore/512 → 6 + 4 docs
    val text = Seq.fill(100)("tok").mkString(" ")
    val d = docs((1L to 10L).map(i => (i, text, "en", "s0")): _*)
    val r = Corpus.packingStats(d).collect().head
    assert(r.getAs[Long]("n_packs") == 2)
    assert(r.getAs[Long]("n_docs") == 10)
    assert(r.getAs[Long]("max_pack_tokens") == 600)
    assert(r.getAs[Double]("avg_docs_per_pack") == 5.0)
  }

  test("balanced sample: caps big classes, keeps small ones whole, kept set is the Knuth-key minimum") {
    // class a: ids 1..10 (cap 3 bites); class b: ids 100,101 (under cap)
    val d = docs(((1L to 10L).map(i => (i, "t", "en", "a")) ++
      Seq((100L, "t", "en", "b"), (101L, "t", "en", "b"))): _*)
    val audit = Corpus.balancedSample(d, "doc_id", $"source", cap = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // expected kept ids for a: the 3 smallest (id*2654435761) % 2^32
    val expectA = (1L to 10L)
      .sortBy(i => ((i * 2654435761L) % 4294967296L, i)).take(3)
    assert(audit("a") == ((10L, 3L, expectA.sum)))
    assert(audit("b") == ((2L, 2L, 201L)))
    // the row-level view agrees with the checksum
    val keptA = Corpus.balancedSampleRows(d, "doc_id", $"source", cap = 3)
      .filter($"_cls" === "a").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptA == expectA.toSet)
  }

  test("balanced sample is deterministic across runs and repartitioning") {
    val d = docs((1L to 50L).map(i => (i, "t", "en", s"s${i % 3}")): _*)
    val a = Corpus.balancedSample(d, "doc_id", $"source", 5).collect().toSeq
    val b = Corpus.balancedSample(d.repartition(7), "doc_id", $"source", 5)
      .collect().toSeq
    assert(a == b)
  }

  test("balanced sample: a NULL class is one audited group, not silently dropped") {
    // SQL GROUP BY keeps a NULL group; an inner equi-join on the class
    // would lose it (NULL never equals itself) — the audit join is
    // null-safe, so the null class must appear with correct counts
    val rows = Seq((1L, "a"), (2L, "a"), (3L, null), (4L, null), (5L, null))
    val d = rows.toDF("doc_id", "source")
    val audit = Corpus.balancedSample(d, "doc_id", $"source", cap = 2)
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(audit(Some("a")) == ((2L, 2L)))
    assert(audit(None)._1 == 3L && audit(None)._2 == 2L)
  }

  test("balanced sample: the widened Knuth key is the identity for ids under 2^31 and never overflows above it") {
    // ids straddling 2^31: the pre-fold pmod keeps the multiply inside
    // int64 (no silent wrap / engine-dependent selection) while small
    // ids keep the exact historical key
    val big = Seq(4000000000L, 4000000001L, 8000000000L)
    val d = ((1L to 5L) ++ big).map(i => (i, "c")).toDF("doc_id", "source")
    val kept = Corpus.balancedSampleRows(d, "doc_id", $"source", cap = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def key(i: Long) = ((i % 2147483648L) * 2654435761L) % 4294967296L
    val expect = ((1L to 5L) ++ big).sortBy(i => (key(i), i)).take(4).toSet
    assert(kept == expect)
  }

  test("unimax allocation: hand-computed water-filling, including the exact boundary case") {
    // tokens A:100 B:200 C:700, maxEpochs=2, budget=1.0×1000=1000.
    // caps 200/400/1400 sorted; f(1)=200+200·2=600 ≤ 1000 bound,
    // f(2)=600+400·1=1000 ≤ 1000 bound (EXACT boundary), f(3)=2000 not.
    // Water level u=(1000−600)/1=400 → C gets 400 at 4/7 epochs.
    val docs = (Seq.fill(1)(("A", 100)) ++ Seq(("B", 200)) ++ Seq(("C", 700)))
      .toDF("source", "n_tok")
    val out = Corpus.unimaxAllocation(docs, $"source", $"n_tok",
        budgetFrac = 1.0, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("A") == ((100L, true, 200.0, 2.0)))
    assert(out("B") == ((200L, true, 400.0, 2.0)))
    assert(out("C") == ((700L, false, 400.0, 0.571429)))
  }

  test("unimax allocation: budget past all caps binds everyone; allocations sum to min(budget, total caps)") {
    val docs = Seq(("A", 10), ("B", 30), ("C", 60)).toDF("source", "n_tok")
    val all = Corpus.unimaxAllocation(docs, $"source", $"n_tok",
        budgetFrac = 5.0, maxEpochs = 2.0).collect()
    assert(all.forall(_.getBoolean(2)), "every source must bind at its cap")
    assert(all.map(_.getDouble(3)).sum == 200.0) // Σ caps = 2×100
    // tight budget binds nobody: pure uniform split
    val none = Corpus.unimaxAllocation(docs, $"source", $"n_tok",
        budgetFrac = 0.3, maxEpochs = 2.0).collect()
    assert(none.forall(!_.getBoolean(2)))
    assert(none.map(_.getDouble(3)).distinct.length == 1, "uniform split expected")
    assert(math.abs(none.map(_.getDouble(3)).sum - 30.0) < 1e-6)
  }

  test("unimax allocation is repartition-invariant") {
    val docs = (1 to 500).map(i => (s"s${i % 7}", i % 40)).toDF("source", "n_tok")
    val a = Corpus.unimaxAllocation(docs, $"source", $"n_tok", 1.25, 1.4)
      .collect().toSeq
    val b = Corpus.unimaxAllocation(docs.repartition(13), $"source", $"n_tok", 1.25, 1.4)
      .collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("training shards: assignment is the documented Knuth scramble, deterministic, complete") {
    val d = (0L until 200L).map(i => (i, s"tok$i word$i")).toDF("doc_id", "text")
    val assigned = Corpus.trainingShards(d, "doc_id", 16)
      .select("doc_id", "shard", "sort_key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc assigned exactly once, to the hand-derivable shard
    assert(assigned.length == 200)
    assigned.foreach { case (id, shard, key) =>
      val expectKey = java.lang.Math.floorMod(
        java.lang.Math.floorMod(id, 2147483648L) * 2654435761L, 4294967296L)
      assert(key == expectKey && shard == expectKey % 16,
        s"doc $id: got (shard=$shard, key=$key), want key=$expectKey")
    }
    // re-run and repartition produce the identical assignment
    val again = Corpus.trainingShards(d.repartition(7), "doc_id", 16)
      .select("doc_id", "shard", "sort_key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.sortBy(_._1).toSeq == assigned.sortBy(_._1).toSeq)
  }

  test("bigram perplexity: hand-computed add-one bigram NLLs; short docs drop") {
    // corpus bigrams: "x y"×3, "y x"×2, "y z"×1, "p q"×1; contexts
    // c(x·)=3, c(y·)=3, c(p·)=1; vocab {x,y,z,p,q} → V=5
    val d = docs(
      (1L, "x y x y x", "en", "a"),
      (2L, "x y z", "en", "a"),
      (3L, "z", "en", "b"), // single token: no bigrams, drops from the report
      (4L, "p q", "en", "b"))
    val out = Corpus.bigramPerplexity(d).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    def nll(nbg: Long, nw1: Long): Double =
      BigDecimal(-math.log((nbg + 1.0) / (nw1 + 5.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val xy = nll(3, 3); val yx = nll(2, 3); val yz = nll(1, 3); val pq = nll(1, 1)
    val d1 = (2 * xy + 2 * yx) / 4.0
    val d2 = (xy + yz) / 2.0
    val (nA, avgA, minA, maxA) = out("a")
    assert(nA == 2L)
    assert(math.abs(avgA - (d1 + d2) / 2.0) < 2e-6, s"a avg $avgA")
    assert(math.abs(minA - math.min(d1, d2)) < 2e-6)
    assert(math.abs(maxA - math.max(d1, d2)) < 2e-6)
    val (nB, avgB, _, _) = out("b")
    assert(nB == 1L, "the 1-token doc must not count")
    assert(math.abs(avgB - pq) < 2e-6, s"b avg $avgB want $pq")
    // the repetitive doc (d1) must read as MORE predictable (lower NLL)
    // than the novel-continuation doc (d2) — the signal the op exists for
    assert(d1 < d2)
  }

  test("token divergence: hand-computed KL, entropy, and Simpson on a two-source corpus") {
    // s1: a a b (n=3); s2: b c (n=2); corpus: a:2 b:2 c:1 (N=5)
    val d = docs(
      (1L, "a a b", "en", "s1"),
      (2L, "b c", "en", "s2"))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def term(p: Double, lnArg: Double): BigDecimal = r12(p * r6(math.log(lnArg)))
    val klS1 = r6((term(2.0 / 3, (2.0 / 3) / 0.4) + term(1.0 / 3, (1.0 / 3) / 0.4)).toDouble)
    val hS1 = r6(-(term(2.0 / 3, 2.0 / 3) + term(1.0 / 3, 1.0 / 3)).toDouble)
    val sqS1 = r6((r12(2.0 / 3 * (2.0 / 3)) + r12(1.0 / 3 * (1.0 / 3))).toDouble)
    val out = Corpus.tokenDivergence(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val (nt1, kl1, h1, sq1) = out("s1")
    assert(nt1 == 2L)
    assert(math.abs(kl1 - klS1) < 1e-9, s"kl $kl1 want $klS1")
    assert(math.abs(h1 - hS1) < 1e-9, s"entropy $h1 want $hS1")
    assert(math.abs(sq1 - sqS1) < 1e-9, s"simpson $sq1 want $sqS1")
    // s2 is uniform over 2 types: entropy ln 2, simpson 0.5
    val (nt2, kl2, h2, sq2) = out("s2")
    assert(nt2 == 2L)
    assert(math.abs(h2 - 0.693147) < 1e-6)
    assert(math.abs(sq2 - 0.5) < 1e-9)
    // both sources diverge from the corpus mix, KL strictly positive
    assert(kl1 > 0 && kl2 > 0)
  }

  test("length divergence: identical distributions score 0, disjoint ones score high") {
    val same = (Seq(10L, 20L, 30L, 40L).map(n => ("s1", n)) ++
      Seq(10L, 20L, 30L, 40L).map(n => ("s2", n)))
      .toDF("source", "n_chars")
    val ksSame = Corpus.lengthDivergence(same).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(ksSame.values.forall(v => math.abs(v) < 1e-9),
      s"identical per-source distributions must have KS 0: $ksSame")

    val split = (Seq(1L, 2L, 3L, 4L).map(n => ("lo", n)) ++
      Seq(100L, 200L, 300L, 400L).map(n => ("hi", n)))
      .toDF("source", "n_chars")
    val ksSplit = Corpus.lengthDivergence(split).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(ksSplit("lo") > 0.4 && ksSplit("hi") > 0.4, s"$ksSplit")
    assert(math.abs(ksSplit("lo") - ksSplit("hi")) < 1e-9,
      "the two halves sit symmetrically around the corpus CDF")
  }

  test("shard audit: checksums pin membership; shard sizes stay balanced") {
    val d = (0L until 1600L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val audit = Corpus.shardAudit(d, "doc_id", $"text", 16).collect()
    assert(audit.length == 16)
    assert(audit.map(_.getLong(1)).sum == 1600L, "every doc in exactly one shard")
    assert(audit.map(_.getLong(3)).sum == (0L until 1600L).sum, "id checksum total")
    assert(audit.forall(r => r.getLong(2) == r.getLong(1) * 3), "3 tokens per doc")
    // the multiplicative scramble should spread 1600 sequential ids
    // roughly evenly over 16 shards (no shard starved or doubled)
    assert(audit.map(_.getLong(1)).forall(n => n > 50 && n < 200),
      s"shard sizes skewed: ${audit.map(_.getLong(1)).mkString(",")}")
  }
}
