package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.{VectorFunctions => VF}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 40 deterministic vectors in 8-d, clustered around 4 seeds. */
  private lazy val vectors = {
    val rng = new scala.util.Random(7)
    val seeds = Array.fill(4)(Array.fill(8)(rng.nextGaussian()))
    (0 until 40).map { i =>
      val s = seeds(i % 4)
      (i.toLong, s.map(x => (x + 0.1 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private lazy val corpus = vectors.select(col("vec_id").as("neighbor_id"),
    VF.vecAsDouble(col("embedding")).as("nv"))
  private lazy val queries = vectors.filter(col("vec_id") < 4)
    .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"))

  test("exact top-k: k rows per query, self excluded, sims descending") {
    val out = Similarity.topKExact(queries, corpus, k = 5).collect()
    assert(out.length == 4 * 5)
    assert(!out.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("neighbor_id")))
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("kernel topKExact equals the join formulation exactly (r16)") {
    // long ids, including duplicate vectors (rounded-sim TIES at the k
    // boundary — the tie-break the kernel must replicate: id ascending)
    val dupCorpus = corpus.unionByName(
      corpus.withColumn("neighbor_id", col("neighbor_id") + 1000L))
    val kern = Similarity.topKExact(queries, dupCorpus, k = 7)
    val join = Similarity.topKExactJoin(queries, dupCorpus, k = 7)
    assert(kern.exceptAll(join).count() == 0 && join.exceptAll(kern).count() == 0,
      "kernel and join top-k differ on long ids")

    // string ids + a null corpus vector (null sim, ranks last when a
    // query has fewer than k real candidates — k chosen above the corpus
    // size for query "qx" to force it)
    val sq = queries.select(concat(lit("q"), col("query_id")).as("query_id"), col("qv"))
    val sc = dupCorpus
      .select(concat(lit("q"), col("neighbor_id")).as("neighbor_id"), col("nv"))
      .unionByName(Seq(
        ("nnull", null.asInstanceOf[Seq[Double]])).toDF("neighbor_id", "nv"))
    val kernS = Similarity.topKExact(sq, sc, k = 7)
    val joinS = Similarity.topKExactJoin(sq, sc, k = 7)
    assert(kernS.exceptAll(joinS).count() == 0 && joinS.exceptAll(kernS).count() == 0,
      "kernel and join top-k differ on string ids / null vectors")
    // null sim rows actually admitted when k exceeds the real candidates
    val tiny = sc.limit(0).unionByName(
      Seq(("na", Seq(1.0, 0.0)), ("nb", Seq(0.9, 0.1)),
        ("nnull", null.asInstanceOf[Seq[Double]])).toDF("neighbor_id", "nv"))
    val tq = Seq(("qa", Seq(1.0, 0.0))).toDF("query_id", "qv")
    val kT = Similarity.topKExact(tq, tiny, k = 3)
    val jT = Similarity.topKExactJoin(tq, tiny, k = 3)
    assert(kT.exceptAll(jT).count() == 0 && jT.exceptAll(kT).count() == 0,
      "kernel and join differ when null-vector rows enter the top-k")
  }

  test("kernel topKExact = join on zero-norm rows: null sim, ranked last") {
    // the cosine contract: a zero norm product gives a null sim (the
    // oracle's x / 0.0 → NULL, try_divide on the join side) that ranks
    // after every real sim, ties by id — for a zero corpus row and a
    // zero query alike; a null query vector scores null too, and a null
    // query id yields no rows (the join condition is never true)
    val c = Seq(("za", Seq(0.0, 0.0)), ("nb", Seq(0.9, 0.1)), ("nc", Seq(0.0, 1.0)))
      .toDF("neighbor_id", "nv")
    val q = Seq(("qa", Seq(1.0, 0.0)), ("qz", Seq(0.0, 0.0)),
      ("qn", null.asInstanceOf[Seq[Double]]), (null, Seq(1.0, 0.0))).toDF("query_id", "qv")
    val kern = Similarity.topKExact(q, c, k = 3)
    val join = Similarity.topKExactJoin(q, c, k = 3)
    assert(kern.exceptAll(join).count() == 0 && join.exceptAll(kern).count() == 0,
      "kernel and join top-k differ on zero-norm rows")
    val out = kern.orderBy("query_id", "rnk").collect()
      .map(r => (r.getAs[String]("query_id"), r.getAs[String]("neighbor_id"),
        Option(r.getAs[java.lang.Double]("sim")).map(_.doubleValue)))
    assert(out.toSeq == Seq(("qa", "nb", Some(0.993884)), ("qa", "nc", Some(0.0)),
      ("qa", "za", None), ("qn", "nb", None), ("qn", "nc", None), ("qn", "za", None),
      ("qz", "nb", None), ("qz", "nc", None), ("qz", "za", None)))
  }

  test("topKExact refuses ids that are neither strings nor integral, naming the supported types") {
    val err = intercept[IllegalArgumentException] {
      Similarity.topKExact(queries.withColumn("query_id", col("query_id").cast("double")),
        corpus.withColumn("neighbor_id", col("neighbor_id").cast("double")), k = 5)
    }
    assert(err.getMessage.contains("strings") && err.getMessage.contains("integral"))
  }

  test("top-1 neighbor of a clustered vector is from the same cluster") {
    val out = Similarity.topKExact(queries, corpus, k = 1).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") % 4 == r.getAs[Long]("query_id") % 4)
    }
  }

  test("topKExact guards its query side, naming the IVF path") {
    val err = intercept[IllegalArgumentException] {
      Similarity.topKExact(queries, corpus, k = 5, maxQueries = 2)
    }
    assert(err.getMessage.contains("IVF"))
  }

  test("hard negatives exclude same-label vectors and keep sim ordering") {
    // labels = cluster ids (i % 4): every query's nearest same-cluster
    // twins are disqualified, so mined negatives must all be other-label
    val labeled = vectors.withColumn("label", (col("vec_id") % 4).cast("int"))
    val q = labeled.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"),
        col("label").as("qlabel"))
    val c = labeled.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"), col("label").as("nlabel"))
    val out = Similarity.hardNegatives(q, c, k = 3).collect()
    assert(out.length == 4 * 3)
    out.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") % 4 != r.getAs[Long]("query_id") % 4)
    }
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  private lazy val ivfDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sim_ivf").toString + "/idx"
    graft.index.VectorIndex.build(vectors, "vec_id", "embedding", nCells = 4, dir)
    dir
  }

  test("IVF with all cells probed equals exact search") {
    val ivf = graft.index.VectorIndex.search(spark, ivfDir, queries, k = 5, nProbe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.topKExact(queries, corpus, k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == exact)
  }

  test("IVF with 1 probe achieves >= 0.6 recall on clustered data") {
    val ivf = graft.index.VectorIndex.search(spark, ivfDir, queries, k = 5, nProbe = 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.topKExact(queries, corpus, k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("blocked top-pairs equals the expression formulation exactly") {
    import graft.expressions.VectorExprs
    VectorExprs.register(spark)
    val emb = vectors.select(col("vec_id"), VF.vecAsDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(VectorExprs.vec_dot(col("v"), col("v"))))
    val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val reference = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorExprs.vec_dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("id_a"), col("id_b")).limit(17)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val blocked = Similarity.topPairsExactBlocked(vectors, "vec_id", "embedding",
        k = 17, nBlocks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(blocked == reference)
  }

  test("blocked top-pairs handles rounding ties deterministically") {
    // many identical vectors → all pairwise sims round to 1.0; selection
    // must then be by (id_a, id_b) ascending, exactly like the SQL order
    val df = (0 until 12).map(i => (i.toLong, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.topPairsExactBlocked(df, "vec_id", "embedding", k = 5, nBlocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L)))
  }

  test("embedding decontamination flags near-copies with their closest eval item, leaves clean rows out") {
    val corpus = Seq(
      (100L, Seq(1.0, 0.0)),  // exact copy of eval 1
      (101L, Seq(0.9, 0.1)),  // near eval 1 (cos ~ 0.994)
      (102L, Seq(0.0, 1.0)),  // exact copy of eval 2
      (103L, Seq(-1.0, 0.0))) // anti-aligned: clean
      .toDF("id", "v")
    val ev = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("eval_id", "eval_vec")
    val out = Similarity.decontamByEmbedding(corpus, ev, "id", "v", tau = 0.8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(100L, 101L, 102L))
    assert(out(100L) == (1L, 1.0))
    assert(out(102L) == (2L, 1.0))
    assert(out(101L)._1 == 1L && math.abs(out(101L)._2 - 0.993884) < 1e-6)
  }

  test("decontamByEmbedding guards an unbounded eval side, naming the pair path") {
    val df = Seq((1L, Seq(1.0))).toDF("id", "v")
    val ev = Seq((1L, Seq(1.0)), (2L, Seq(0.5))).toDF("eval_id", "eval_vec")
    val err = intercept[IllegalArgumentException] {
      Similarity.decontamByEmbedding(df, ev, "id", "v", tau = 0.5, maxEval = 1)
    }
    assert(err.getMessage.contains("cosinePairsAboveIvf"))
  }

  test("zero-norm vectors are excluded from blocked top-pairs (no NaN)") {
    val df = Seq(
      (1L, Seq(0.0f, 0.0f, 0.0f)), // zero vector: cosine undefined
      (2L, Seq(0.0f, 0.0f, 0.0f)),
      (3L, Seq(1.0f, 2.0f, 3.0f)),
      (4L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val out = Similarity.topPairsExactBlocked(df, "vec_id", "embedding", k = 3, nBlocks = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.forall(!_._3.isNaN))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((3L, 4L)))
  }

  test("size guard refuses oversized exact-pair inputs") {
    val e = intercept[IllegalArgumentException] {
      Similarity.topPairsExactBlocked(vectors, "vec_id", "embedding", k = 5, maxRows = 10)
    }
    assert(e.getMessage.contains("IVF"))
    // the exact-contract escalation (collapse exact twins) is named first
    assert(e.getMessage.contains("topPairsExactCollapsed"))
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("collapsed top-pairs == blocked top-pairs on a duplicate-dense corpus") {
    // verbatim twins: vectors 0-9 each gain 3 extra copies under new ids —
    // the exact regime the pre-collapse exists for. Equivalence must hold
    // through the k boundary (k = 25 lands inside the twin-pair tie mass).
    val base = vectors.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val twins = base.filter(_._1 < 10).flatMap { case (id, v) =>
      (1 to 3).map(c => (1000L + id * 10 + c, v))
    }
    val df = (base ++ twins).toSeq.toDF("vec_id", "embedding")
    for (k <- Seq(5, 25)) {
      val collapsed = pairs(Similarity.topPairsExactCollapsed(df, "vec_id", "embedding", k, nBlocks = 3))
      val blocked = pairs(Similarity.topPairsExactBlocked(df, "vec_id", "embedding", k, nBlocks = 3))
      assert(collapsed == blocked, s"k=$k")
    }
  }

  test("collapsed top-pairs == blocked top-pairs when no duplicates exist") {
    val collapsed = pairs(Similarity.topPairsExactCollapsed(vectors, "vec_id", "embedding", k = 17, nBlocks = 3))
    val blocked = pairs(Similarity.topPairsExactBlocked(vectors, "vec_id", "embedding", k = 17, nBlocks = 3))
    assert(collapsed == blocked)
  }

  test("collapsed: two twin families tie at sim 1.0, selection by (id_a, id_b)") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(1.0f, 0.0f)),
      (10L, Seq(0.0f, 2.0f)), (11L, Seq(0.0f, 2.0f))).toDF("vec_id", "embedding")
    val out = pairs(Similarity.topPairsExactCollapsed(df, "vec_id", "embedding", k = 4, nBlocks = 2))
    assert(out.map(t => (t._1, t._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
    assert(out.forall(_._3 == 1.0))
  }

  test("collapsed excludes zero-norm vectors, including their twins") {
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(0.0f, 0.0f)),
      (4L, Seq(1.0f, 2.0f)), (5L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val out = pairs(Similarity.topPairsExactCollapsed(df, "vec_id", "embedding", k = 5, nBlocks = 2))
    assert(out.map(t => (t._1, t._2)) == Seq((4L, 5L)))
  }

  test("collapsed guard counts REPRESENTATIVES, not raw rows") {
    // 120 rows / 4 distinct vectors: passes a 10-rep cap the uncollapsed
    // path would refuse — the deduplicated corpus is what must fit the
    // exact contract
    val df = (0 until 120).map(i => (i.toLong, Seq((i % 4).toFloat + 1f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = pairs(Similarity.topPairsExactCollapsed(df, "vec_id", "embedding", k = 3,
      nBlocks = 2, maxReps = 10))
    assert(out.map(t => (t._1, t._2)) == Seq((0L, 4L), (0L, 8L), (0L, 12L)))
    val e = intercept[IllegalArgumentException] {
      Similarity.topPairsExactCollapsed(df, "vec_id", "embedding", k = 3, maxReps = 3)
    }
    assert(e.getMessage.contains("IVF"))
  }

  test("withinPairs kernel: lexical order, k cap, zero/NaN-norm guard") {
    val v = Array(3.0, 4.0)
    val ms = Array(1L, 5L, 9L)
    assert(SimilarityKernels.withinPairs(ms, v, k = 2, dp = 6).toSeq ==
      Seq((1L, 5L, 1.0), (1L, 9L, 1.0)))
    assert(SimilarityKernels.withinPairs(ms, v, k = 10, dp = 6).toSeq.map(t => (t._1, t._2)) ==
      Seq((1L, 5L), (1L, 9L), (5L, 9L)))
    assert(SimilarityKernels.withinPairs(ms, Array(0.0, 0.0), k = 5, dp = 6).isEmpty)
    assert(SimilarityKernels.withinPairs(ms, Array(Double.NaN, 1.0), k = 5, dp = 6).isEmpty)
  }

  test("IVF-bucketed pairs recover most high-sim pairs of clustered data") {
    // three tight blobs: all qualifying pairs are intra-blob, and tight
    // blobs land in one cell each, so recall should be high
    val rows = for (b <- 0 until 3; i <- 0 until 12) yield {
      val base = Array.fill(8)(0.0)
      base(b) = 10.0
      base(7) = (i % 4) * 0.05
      (b.toLong * 100 + i, base.toSeq)
    }
    val df = rows.toDF("vid", "vec")
    val exact = Similarity.cosinePairsAbove(df, "vid", "vec", 0.999)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.cosinePairsAboveIvf(df, "vid", "vec", 0.999, nCells = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.subsetOf(exact), "IVF must never invent pairs")
    assert(exact.nonEmpty)
    assert(ivf.size.toDouble / exact.size >= 0.9,
      s"recall ${ivf.size}/${exact.size}")
  }

  test("cosinePairsAbove finds planted identical pair") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairsAbove(df, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semanticDedup keeps one representative per blob, singletons survive") {
    // two tight blobs of 6 near-identical vectors + two far singletons:
    // each blob collapses to its min id, singletons are their own cluster
    val blobs = for (b <- 0 until 2; i <- 0 until 6) yield {
      val base = Array.fill(8)(0.0)
      base(b) = 10.0
      base(7) = i * 0.001 // nudge, cosine stays > 0.999
      (b.toLong * 100 + i, base.toSeq)
    }
    val singles = Seq(
      (500L, Seq(0.0, 0.0, 0.0, 10.0, 0.0, 0.0, 0.0, 0.0)),
      (600L, Seq(0.0, 0.0, 0.0, 0.0, 10.0, 0.0, 0.0, 0.0)))
    val df = (blobs ++ singles).toDF("vid", "vec")
    // nCells = 2: a tight blob always lands whole in whichever cell its
    // centroid-nearest side is — splitting a blob across cells is the
    // documented boundary-recall caveat, not what this test pins
    val out = Similarity.semanticDedup(df, "vid", "vec",
        threshold = 0.999, nCells = 2)
      .select("vid", "cluster_id", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 14)                       // every input row present
    val kept = out.filter(_._3).map(_._1).toSet
    assert(kept == Set(0L, 100L, 500L, 600L))      // min id per blob + singletons
    // every member of blob b carries the blob's min id as its cluster
    for ((vid, cid, _) <- out if vid < 500L)
      assert(cid == (vid / 100) * 100, s"vid $vid → cluster $cid")
    // apply form: filtering on keep dedups exactly to 4 rows
    assert(out.count(_._3) == 4)
  }

  test("semanticDedupHyperplane: same blob semantics, cells from sign bits") {
    // blob A points along +dim0, blob B along -dim0 (+tiny dim1 spread):
    // their dim-0 signs differ, so the hyperplane quantizer separates
    // them by construction, and within-blob cosine stays > 0.999
    val blobs = for (b <- 0 until 2; i <- 0 until 5) yield {
      val sign = if (b == 0) 1.0 else -1.0
      (b.toLong * 100 + i, Seq(sign * 10.0, 1.0 + i * 0.001, 2.0, 3.0))
    }
    val single = Seq((500L, Seq(0.1, -20.0, 2.0, 3.0)))
    val df = (blobs ++ single).toDF("vid", "vec")
    val out = Similarity.semanticDedupHyperplane(df, "vid", "vec",
        threshold = 0.999, nPlanes = 4)
      .select("vid", "cluster_id", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 11)
    assert(out.filter(_._3).map(_._1).toSet == Set(0L, 100L, 500L))
    for ((vid, cid, _) <- out if vid < 500L)
      assert(cid == (vid / 100) * 100, s"vid $vid → cluster $cid")
  }

  test("semanticDedupHyperplane: shared cell without similarity does not merge clusters") {
    // blobs 1 and 3 both quantize to cell 0 (all four sign bits zero)
    // but are orthogonal — sharing a cell must not cluster them; blob 0
    // sits alone in cell 1, blob 2 in cell 4
    val blobs = for (b <- 0 until 4; i <- 0 until 4) yield {
      val base = Array.fill(6)(0.0)
      base(b) = if (b % 2 == 0) 8.0 else -8.0
      base(5) = i * 0.001
      (b.toLong * 10 + i, base.toSeq)
    }
    val df = blobs.toDF("vid", "vec")
    val out = Similarity.semanticDedupHyperplane(df, "vid", "vec",
        threshold = 0.999, nPlanes = 4)
      .select("vid", "cluster_id", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.filter(_._3).map(_._1).toSet == Set(0L, 10L, 20L, 30L))
    for ((vid, cid, _) <- out)
      assert(cid == (vid / 10) * 10, s"vid $vid → cluster $cid")
  }

  test("group centroid similarity: hand-computed cosines, repartition-invariant") {
    // group a sums to (2, 0), b to (0, 3), c to (2, 2):
    // cos(a,b)=0, cos(a,c)=1/sqrt(2), cos(b,c)=1/sqrt(2)
    val df = Seq(
      ("a", Seq(1.0f, 0.0f)), ("a", Seq(1.0f, 0.0f)),
      ("b", Seq(0.0f, 1.0f)), ("b", Seq(0.0f, 2.0f)),
      ("c", Seq(2.0f, 2.0f))).toDF("source", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.groupCentroidSimilarity(d, col("source"), col("embedding"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val out = run(df)
    val r6 = (x: Double) => math.rint(x * 1e6) / 1e6
    assert(out(("a", "b")) == 0.0)
    assert(out(("a", "c")) == r6(1.0 / math.sqrt(2)))
    assert(out(("b", "c")) == r6(1.0 / math.sqrt(2)))
    assert(out.size == 3)
    assert(run(df.repartition(7)) == out, "must be partitioning-invariant")
  }

  test("group dispersion: hand-computed mean pairwise squared distance; collapsed source reads zero") {
    // group a: (0,0),(2,0),(0,2) — pair dists² 4,4,8 → mean 16/3;
    //   Σ‖x‖²=8, ‖Σx‖²=8 → (3·8−8)/3 = 16/3 ✓ (identity cross-check)
    // group b: three identical vectors → dispersion exactly 0 (collapse)
    // group c: singleton → dropped (n ≥ 2 on both engines)
    val df = Seq(
      ("a", Seq(0.0f, 0.0f)), ("a", Seq(2.0f, 0.0f)), ("a", Seq(0.0f, 2.0f)),
      ("b", Seq(3.0f, 4.0f)), ("b", Seq(3.0f, 4.0f)), ("b", Seq(3.0f, 4.0f)),
      ("c", Seq(9.0f, 9.0f))).toDF("source", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.groupDispersion(d, col("source"), col("embedding"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val out = run(df)
    val r6 = (x: Double) => math.rint(x * 1e6) / 1e6
    assert(out.keySet == Set("a", "b"), s"singleton must drop: $out")
    assert(out("a") == ((3L, r6(16.0 / 3), r6(math.sqrt(8.0 / 3)))))
    assert(out("b") == ((3L, 0.0, 5.0)))
    assert(run(df.repartition(5)) == out, "must be partitioning-invariant")
  }

  /** Deterministic correlated + mean-shifted corpus: every dim is the
    * same base signal (plus per-dim noise), so all sign bits agree and a
    * positive mean pushes most rows into the all-ones cell — the plain
    * hyperplane quantizer's worst case. */
  private def correlatedCorpus(n: Int): org.apache.spark.sql.DataFrame = {
    val rng = new scala.util.Random(13)
    (0 until n).map { i =>
      val base = 1.0 + rng.nextGaussian()           // shifted mean, 1-d signal
      // noise two orders below the signal: every dim carries base's sign
      (i.toLong, Seq.tabulate(6)(d => base + 0.0005 * rng.nextGaussian() + d * 0.0001))
    }.toDF("vid", "vec")
  }

  test("whitened hyperplane cells: raw-cosine contract holds; occupancy beats plain cells on correlated data") {
    val df = correlatedCorpus(120)
    val exact = Similarity.cosinePairsAbove(df, "vid", "vec", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val whitened = Similarity.cosinePairsAboveHyperplaneWhitened(
        df, "vid", "vec", 0.999, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // contract: a subset of the exact pair set, at the RAW similarity
    whitened.foreach { case (p, s) =>
      assert(exact.get(p).contains(s), s"pair $p sim $s not in exact set") }
    // the structural claim whitening exists for: plain sign bits on a
    // corpus whose dims all carry one correlated shifted signal occupy
    // ~1 cell; whitened (centered, decorrelated) bits spread the corpus
    def occupancy(cellCol: org.apache.spark.sql.Column): Long =
      df.select(cellCol.as("c")).distinct().count()
    val model = Whitening.fit(df, col("vec"))
    val plainCells = occupancy(Similarity.hyperplaneCellId(col("vec"), 4))
    val whitenedCells = occupancy(Similarity.hyperplaneCellId(
      graft.expressions.VectorExprs.whiten_vec(
        VF.vecAsDouble(col("vec")), model.mean, model.wPacked), 4))
    assert(plainCells <= 2, s"correlated corpus should collapse plain cells, got $plainCells")
    assert(whitenedCells >= 8, s"whitened cells should spread, got $whitenedCells")
  }

  test("whitened IVF pairs: raw-cosine contract and clustered-data recall hold") {
    val df = vectors.select(col("vec_id").as("vid"), col("embedding").as("vec"))
    val exact = Similarity.cosinePairsAbove(df, "vid", "vec", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfW = Similarity.cosinePairsAboveIvfWhitened(df, "vid", "vec", 0.9, nCells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivfW.foreach { case (p, s) =>
      assert(exact.get(p).contains(s), s"pair $p sim $s not in exact set") }
    // recall bar is deliberately LOWER than the raw-IVF test's: on data
    // whose covariance IS the cluster structure, whitening rescales the
    // between-cluster directions down and can cost recall — the honest
    // trade SemDedupRecallProbe quantifies (SCALE.md table); the spec
    // pins the contract and that the variant still finds real pair mass
    assert(exact.nonEmpty && ivfW.size.toDouble / exact.size >= 0.3,
      s"whitened-IVF recall ${ivfW.size}/${exact.size}")
  }
}
