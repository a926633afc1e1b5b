package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.{VectorFunctions => VF}

/** Gate for X117 IVF-PQ. No SQL oracle — subspace k-means is not
  * reasonably SQL-recomputable (same documented class as the IVF trainer
  * and whitening); instead the ADC scoring path is pinned EXACTLY against
  * a driver-side replay of the model on the same persisted codes, the
  * quantizer is pinned exact on a corpus it can represent losslessly, and
  * recall against the exhaustive kernel is measured, not assumed. */
class PqIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def bytesUnder(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
    walk(new java.io.File(dir))
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_pq_$tag").toString

  /** 12-dim vectors whose m=4 subspace slices each take one of 4
    * well-separated patterns — a corpus a k=8 codebook can represent
    * EXACTLY, so reconstruction must be lossless and ADC == exact. */
  private def losslessCorpus(n: Int): Seq[(Long, Array[Double])] = {
    val patterns = Array(
      Array(10.0, 0.0, 0.0), Array(0.0, 10.0, 0.0),
      Array(0.0, 0.0, 10.0), Array(5.0, 5.0, 5.0))
    (0 until n).map { i =>
      val v = (0 until 4).flatMap { j =>
        patterns(((i * 7 + j * 3 + i / 5) % 4 + 4) % 4).toSeq
      }.toArray
      (i.toLong, v)
    }
  }

  test("a corpus the codebook can represent exactly round-trips losslessly; ADC sim == exact cosine") {
    val dir = tmp("exact")
    val vecs = losslessCorpus(120).toDF("id", "vec")
    PqIndex.build(vecs, "id", "vec", nCells = 1, dir, m = 4, k = 8)

    val queries = vecs.limit(6).select(col("id").as("query_id"),
      VF.vecAsDouble(col("vec")).as("qv"))
    val got = PqIndex.search(spark, dir, queries, k = 5, nProbe = 1)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = graft.operators.Similarity.topKExact(queries, vecs.select(
      col("id").as("neighbor_id"), VF.vecAsDouble(col("vec")).as("nv")), k = 5)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.nonEmpty)
    got.foreach { case (key, sim) =>
      val es = exact.get(key)
      assert(es.isDefined && math.abs(es.get - sim) < 1e-9,
        s"pair $key: adc=$sim exact=$es")
    }
  }

  test("search replays exactly as the driver-side model on the persisted codes") {
    val dir = tmp("replay")
    // deterministic pseudo-random corpus the codebook CANNOT represent
    // exactly — the parity below is about the scoring path, not recall
    def u(seed: Long): Double = {
      val h = seed * 0x9E3779B97F4A7C15L
      ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(16)(j => u(i * 16L + j + 1)))
    }.toDF("id", "vec")
    PqIndex.build(vecs, "id", "vec", nCells = 3, dir, m = 4, k = 16)

    // reload model + coarse + stored rows, replay scoring on the driver
    val cents = spark.read.parquet(s"$dir/centroids.parquet").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val cbRows = spark.read.parquet(s"$dir/codebooks.parquet").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val m = cbRows.keys.map(_._1).max + 1
    val k = cbRows.keys.map(_._2).max + 1
    val model = PqIndex.PqModel(m, cbRows((0, 0)).length, k,
      Array.tabulate(m, k)((j, c) => cbRows((j, c))))
    val centById = cents.toMap
    // the sessions disable partition-column type inference, so cell_id
    // reads back as string — cast it for the replay
    val stored = spark.read.parquet(s"$dir/assigned.parquet")
      .select(col("_id"), col("_codes"), col("_rn"), col("cell_id").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getDouble(2), r.getInt(3)))

    val queries = vecs.limit(4).select(col("id").as("query_id"),
      VF.vecAsDouble(col("vec")).as("qv"))
    val qRows = queries.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

    // full probe, so expected = top-5 over ALL stored rows by replayed sim
    val expected = qRows.map { case (qid, q) =>
      val qn = math.sqrt(q.map(x => x * x).sum)
      val scored = stored.filter(_._1 != qid).map { case (nid, codes, rn, cell) =>
        val recon = model.reconstruct(codes, centById(cell))
        val dot = q.indices.map(i => q(i) * recon(i)).sum
        val sim = BigDecimal(dot / (qn * rn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        // the kernel's reconstructed norm must agree with the replay
        val rn2 = math.sqrt(recon.map(x => x * x).sum)
        assert(math.abs(rn - rn2) < 1e-9, s"rnorm drift for $nid: $rn vs $rn2")
        (nid, sim)
      }.sortBy { case (nid, sim) => (-sim, nid) }.take(5)
      qid -> scored.map(_._1).toSeq
    }.toMap

    val got = PqIndex.search(spark, dir, queries, k = 5, nProbe = 3)
      .orderBy("query_id", "rnk").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq).toMap
    // sims at equal 6dp can swap neighbor order between engines; compare
    // the id SETS per query plus sim agreement via the pin above
    expected.foreach { case (qid, ids) =>
      assert(got(qid).toSet == ids.toSet,
        s"query $qid: got ${got(qid)} expected $ids")
    }
  }

  test("recall@5-in-25 vs the exhaustive kernel on a clustered corpus, and the store is far smaller") {
    // Clustered corpus: well-separated cluster bases + per-vector noise —
    // the regime PQ serves (the bench ann_pq corpus shape). The metric is
    // the PQ literature's recall@R (true top-k found in a WIDER ADC
    // window, the shortlist a re-ranker would rescore): a code quantizer
    // cannot resolve sub-distortion sim gaps at the exact cutoff, and
    // asserting it does would pin noise, not the operator's contract.
    def u(seed: Long): Double = {
      val h = seed * 0x9E3779B97F4A7C15L
      ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    val dim = 24
    val vecs = (0 until 600).map { i =>
      val cl = i % 6
      (i.toLong, Array.tabulate(dim)(j => u(cl * dim + j + 7919) + 0.35 * u(i * dim.toLong + j + 1)))
    }.toDF("id", "embedding").cache()
    val pqDir = tmp("rec")
    val plainDir = tmp("plain")
    PqIndex.build(vecs, "id", "embedding", nCells = 6, pqDir, m = 8, k = 32)
    VectorIndex.build(vecs, "id", "embedding", nCells = 6, plainDir)

    val queries = vecs.limit(8).select(col("id").as("query_id"),
      VF.vecAsDouble(col("embedding")).as("qv"))
    val exact = VectorIndex.search(spark, plainDir, queries, k = 5, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val pq = PqIndex.search(spark, pqDir, queries, k = 25, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map(q =>
      exact(q).intersect(pq.getOrElse(q, Set.empty)).size.toDouble / exact(q).size)
    assert(recalls.sum / recalls.size >= 0.8,
      s"mean recall@5-in-25 ${recalls.sum / recalls.size} (${recalls.sorted})")

    val pb = bytesUnder(s"$plainDir/assigned.parquet")
    val qb = bytesUnder(s"$pqDir/assigned.parquet")
    assert(qb < pb / 3, s"pq store $qb bytes vs float $pb — expected < a third")
  }

  test("reranked search: exact re-scoring over the ADC shortlist recovers the exact top-k") {
    // same clustered regime as the recall test; the strict @5 recall ADC
    // alone cannot reach (quantizer distortion) must be recovered when
    // the shortlist is re-scored against the original floats
    def u(seed: Long): Double = {
      val h = seed * 0x9E3779B97F4A7C15L
      ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    val dim = 24
    val vecs = (0 until 600).map { i =>
      val cl = i % 6
      (i.toLong, Array.tabulate(dim)(j => u(cl * dim + j + 7919) + 0.35 * u(i * dim.toLong + j + 1)))
    }.toDF("id", "embedding").cache()
    val pqDir = tmp("rr")
    PqIndex.build(vecs, "id", "embedding", nCells = 6, pqDir, m = 8, k = 32)
    val queries = vecs.limit(8).select(col("id").as("query_id"),
      VF.vecAsDouble(col("embedding")).as("qv"))
    def recallOf(got: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double = {
      val rs = want.keys.toSeq.map(q =>
        want(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / want(q).size)
      rs.sum / rs.size
    }
    def toSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val exact = toSets(graft.operators.Similarity.topKExact(queries,
      vecs.select(col("id").as("neighbor_id"), VF.vecAsDouble(col("embedding")).as("nv")), k = 5))
    val adc = toSets(PqIndex.search(spark, pqDir, queries, k = 5, nProbe = 6))
    val rr = toSets(PqIndex.searchReranked(spark, pqDir, queries,
      vecs, "id", "embedding", k = 5, nProbe = 6, window = 25))
    val (ra, rb) = (recallOf(adc, exact), recallOf(rr, exact))
    assert(rb >= ra, s"rerank recall $rb must not lose to plain ADC $ra")
    assert(rb >= 0.9, s"reranked strict recall@5 $rb (adc was $ra)")
  }

  test("recall decomposes: ADC ≤ reranked ≤ probe ceiling; a full-shortlist window recovers the ceiling EXACTLY") {
    // clustered corpus + MIDPOINT queries (each query sits halfway
    // between two cluster centers) at nProbe = 1: a query's true top-k
    // draws from BOTH flanking clusters but only one cell is probed, so
    // the probe ceiling (exact cosine restricted to the probed cells —
    // the float index at the same deterministic coarse quantizer) sits
    // strictly below 1, which is what makes the decomposition
    // non-trivial. Rerank can never recover a neighbor in an unprobed
    // cell, so reranked ≤ ceiling per query; with the window covering
    // EVERY probed candidate, rerank IS exact-within-probed and must
    // equal the ceiling bit-for-bit.
    //
    // NOTE the full splitmix64 finalizer: the bare one-multiply hash the
    // sibling tests use is a Weyl sequence over consecutive seeds —
    // centers come out correlated and one flanking cluster sweeps every
    // midpoint query's top-k, collapsing the fixture.
    def u(seed: Long): Double = {
      var z = seed + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      ((z >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    val dim = 24
    def center(cl: Int): Array[Double] = Array.tabulate(dim)(j => u(cl * dim + j + 7919))
    val vecs = (0 until 600).map { i =>
      val cl = i % 6
      (i.toLong, Array.tabulate(dim)(j =>
        center(cl)(j) + 0.35 * u(i * dim.toLong + j + 1)))
    }.toDF("id", "embedding").cache()
    val pqDir = tmp("dec")
    val plainDir = tmp("decp")
    PqIndex.build(vecs, "id", "embedding", nCells = 6, pqDir, m = 8, k = 32)
    VectorIndex.build(vecs, "id", "embedding", nCells = 6, plainDir)
    val queries = (0 until 5).map { p =>
      val (a, b) = (center(p), center(p + 1))
      // midpoint of the NORMALIZED centers so cosine treats both flanking
      // clusters symmetrically (raw centers differ in norm, and the
      // larger-norm cluster would sweep the whole top-k)
      val (na, nb) = (math.sqrt(a.map(x => x * x).sum), math.sqrt(b.map(x => x * x).sum))
      (9000L + p, Array.tabulate(dim)(j => a(j) / na + b(j) / nb))
    }.toDF("query_id", "qv")
    def toSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(got: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double = {
      val rs = want.keys.toSeq.map(q =>
        want(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / want(q).size)
      rs.sum / rs.size
    }
    val k = 5
    val nProbe = 1
    val exact = toSets(graft.operators.Similarity.topKExact(queries,
      vecs.select(col("id").as("neighbor_id"), VF.vecAsDouble(col("embedding")).as("nv")), k))
    val ceiling = recallOf(toSets(VectorIndex.search(spark, plainDir, queries, k, nProbe)), exact)
    val adc = recallOf(toSets(PqIndex.search(spark, pqDir, queries, k, nProbe)), exact)
    val rrNarrow = recallOf(toSets(PqIndex.searchReranked(spark, pqDir, queries,
      vecs, "id", "embedding", k, nProbe, window = 2 * k)), exact)
    // window 250 > the ~200 candidates two probed cells hold: the
    // shortlist is every probed candidate, so rerank == exact-in-probed
    val rrFull = recallOf(toSets(PqIndex.searchReranked(spark, pqDir, queries,
      vecs, "id", "embedding", k, nProbe, window = 250)), exact)
    assert(ceiling < 1.0, s"fixture: probe miss must exist (ceiling $ceiling)")
    assert(adc <= ceiling + 1e-12, s"adc $adc above ceiling $ceiling")
    assert(rrNarrow <= ceiling + 1e-12, s"narrow rerank $rrNarrow above ceiling $ceiling")
    assert(rrNarrow >= adc - 1e-12, s"narrow rerank $rrNarrow lost to adc $adc")
    assert(rrFull == ceiling,
      s"full-shortlist rerank $rrFull must EQUAL the probe ceiling $ceiling")
  }

  test("incremental update: noop on no new ids, append encodes with the persisted model, rebuild past 30%") {
    val dir = tmp("upd")
    val base = losslessCorpus(200).toDF("id", "vec")
    PqIndex.build(base, "id", "vec", nCells = 2, dir, m = 4, k = 8)
    assert(PqIndex.update(base, "id", "vec", nCells = 2, dir, m = 4, k = 8) == "noop")

    // +10% new ids (same pattern family, so the persisted codebooks
    // represent them exactly) → append; search must find them
    val plus = losslessCorpus(220).toDF("id", "vec")
    assert(PqIndex.update(plus, "id", "vec", nCells = 2, dir, m = 4, k = 8) == "append")
    val stored = spark.read.parquet(s"$dir/assigned.parquet")
    assert(stored.count() == 220)
    val q = plus.filter(col("id") === 210L).select(col("id").as("query_id"),
      VF.vecAsDouble(col("vec")).as("qv"))
    val got = PqIndex.search(spark, dir, q, k = 3, nProbe = 2).collect()
    assert(got.nonEmpty, "appended vectors must be searchable")

    // +50% → rebuild (fresh model over the full corpus)
    val big = losslessCorpus(330).toDF("id", "vec")
    assert(PqIndex.update(big, "id", "vec", nCells = 2, dir, m = 4, k = 8) == "rebuild")
    assert(spark.read.parquet(s"$dir/assigned.parquet").count() == 330)
  }

  test("zero-reconstruction rows (stored _rn == 0) sort last, sims stay finite") {
    // 60 all-zero vectors + 60 copies of one integer-component pattern,
    // nCells = 2: Lloyd's means stay in exact integer fp arithmetic, the
    // two point masses get centroids EXACTLY 0 and EXACTLY the pattern,
    // every residual is exactly zero, so the zero rows persist _rn == 0.0
    // bit-exact — the degenerate-division row the guard exists for. The
    // guard maps them to NaN (undefined cosine) and search EXCLUDES them
    // before the top-k (perQueryTopK's SQL-DESC ordering would otherwise
    // rank NaN first), so the top-k must be genuine rows only.
    val dir = tmp("zero")
    val pattern = Array(10.0, 0.0, 5.0, 0.0, 10.0, 0.0, 5.0, 0.0, 10.0, 0.0, 5.0, 0.0)
    val rows = (0 until 60).map(i => (i.toLong, Array.fill(12)(0.0))) ++
      (60 until 120).map(i => (i.toLong, pattern))
    val vecs = rows.toDF("id", "vec")
    PqIndex.build(vecs, "id", "vec", nCells = 2, dir, m = 4, k = 8)
    val rns = spark.read.parquet(s"$dir/assigned.parquet")
      .select("_rn").collect().map(_.getDouble(0))
    assert(rns.count(_ == 0.0) == 60,
      s"fixture: the 60 zero rows must reconstruct to exactly zero (got ${rns.count(_ == 0.0)})")
    val q = vecs.filter(col("id") === 70L).select(col("id").as("query_id"),
      VF.vecAsDouble(col("vec")).as("qv"))
    val got = PqIndex.search(spark, dir, q, k = 10, nProbe = 2)
      .select("neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.nonEmpty)
    assert(!got.exists(_._2.isInfinite), s"infinite sims: ${got.mkString(",")}")
    // 59 genuine candidates exist, so no degenerate (zero) row may place
    assert(got.forall { case (nid, sim) => nid >= 60 && !sim.isNaN },
      s"degenerate neighbor ranked in top-k: ${got.mkString(",")}")
  }

  test("metadata n_cells is the actual (non-empty) cell count and stable across append") {
    // 3 distinct vectors duplicated 60× each: an 8-cell request can fill
    // at most 3 cells, so the trainer drops the rest
    val pats = losslessCorpus(3).map(_._2)
    val rows = (0 until 180).map(i => (i.toLong, pats(i % 3)))
    val dir = tmp("ncells")
    PqIndex.build(rows.toDF("id", "vec"), "id", "vec", nCells = 8, dir, m = 4, k = 8)
    def metaCells(): Int = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/metadata.json")), "UTF-8")
      """"n_cells":\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toInt
    }
    val actual = spark.read.parquet(s"$dir/centroids.parquet").count().toInt
    val built = metaCells()
    assert(built == actual, s"build wrote n_cells=$built, centroids table has $actual")
    // +10% duplicates of the same patterns → append; n_cells must not move
    val plus = (0 until 198).map(i => (i.toLong, pats(i % 3)))
    assert(PqIndex.update(plus.toDF("id", "vec"), "id", "vec",
      nCells = 8, dir, m = 4, k = 8) == "append")
    assert(metaCells() == built, "n_cells changed value across a no-cell-change append")
  }

  test("codebook training is deterministic and repartition-invariant") {
    val vecs = losslessCorpus(200).toDF("id", "vec")
      .select(col("id").as("_id"), VF.vecAsDouble(col("vec")).as("_v"))
    val a = PqIndex.trainCodebooks(vecs, m = 4, k = 8, coarseCents = Array.empty)
    val b = PqIndex.trainCodebooks(vecs.repartition(13), m = 4, k = 8,
      coarseCents = Array.empty)
    assert(a.m == b.m && a.k == b.k && a.dsub == b.dsub)
    for (j <- 0 until a.m; c <- 0 until a.k)
      assert(java.util.Arrays.equals(a.codebooks(j)(c), b.codebooks(j)(c)),
        s"codebook ($j, $c) differs across layouts")
  }

  test("dimension not divisible by m and oversized k are refused") {
    val vecs = losslessCorpus(50).toDF("id", "vec")
      .select(col("id").as("_id"), VF.vecAsDouble(col("vec")).as("_v"))
    val e1 = intercept[IllegalArgumentException] {
      PqIndex.trainCodebooks(vecs, m = 5, k = 8, coarseCents = Array.empty)
    }
    assert(e1.getMessage.contains("not divisible"))
    val e2 = intercept[IllegalArgumentException] {
      PqIndex.trainCodebooks(vecs, m = 4, k = 300, coarseCents = Array.empty)
    }
    assert(e2.getMessage.contains("[1, 256]"))
  }
}
