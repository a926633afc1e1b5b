package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.Similarity
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def cosine(a: String, b: String) =
    Similarity.cosine(VF.dot(col(a), col(b)), VF.l2Norm(col(a)), VF.l2Norm(col(b)))

  test("cosine of identical vectors is 1, orthogonal is 0, opposite is -1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0)),
      (Seq(0.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b")
    val sims = df.select(cosine("a", "b")).as[Option[Double]].collect()
    assert(sims.sameElements(Array(Some(1.0), Some(0.0), Some(-1.0), None)))
  }

  test("cosine with a zero vector on either side is null, not DIVIDE_BY_ZERO") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 0.0)), (Seq(1.0, 0.0), Seq(0.0, 0.0)),
      (Seq(0.0, 0.0), Seq(0.0, 0.0))).toDF("a", "b")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true") // Spark 4's default
    assert(df.select(cosine("a", "b")).as[Option[Double]].collect().forall(_.isEmpty))
  }

  test("l2Normalize yields unit norm; zero vector unchanged") {
    val df = Seq((Seq(3.0, 4.0), Seq(0.0, 0.0))).toDF("v", "z")
    val Array(n, z) = df.select(
      VF.l2Norm(VF.l2Normalize(col("v"))), VF.l2Norm(col("z"))).as[(Double, Double)].collect()
      .flatMap(t => Array(t._1, t._2))
    assert(math.abs(n - 1.0) < 1e-12 && z == 0.0)
  }

  test("normalizeWs collapses whitespace and lowercases") {
    val out = Seq("  A \t B\n C ").toDF("t")
      .select(TF.normalizeWs(col("t"))).as[String].head()
    assert(out == "a b c")
  }

  test("tokens drop empties; shingles are windows; short text gives none") {
    val df = Seq("a b  c").toDF("t")
    assert(df.select(TF.tokens(col("t"))).as[Seq[String]].head() == Seq("a", "b", "c"))
    assert(df.select(TF.wordShingles(col("t"), 2)).as[Seq[String]].head() == Seq("a b", "b c"))
    assert(Seq("ab").toDF("t").select(TF.charShingles(col("t"), 3)).as[Seq[String]].head().isEmpty)
    assert(Seq("abcd").toDF("t").select(TF.charShingles(col("t"), 3)).as[Seq[String]].head()
      == Seq("abc", "bcd"))
  }

  test("punctRatio counts punctuation over non-whitespace") {
    val r = Seq("ab, cd!").toDF("t").select(TF.punctRatio(col("t"))).as[Double].head()
    assert(r == 2.0 / 6.0)
  }

  test("polyHash is deterministic, order-sensitive, empty-safe") {
    val df = Seq(("abc", "cba", "")).toDF("x", "y", "z")
    val row = df.select(Hashes.polyHash(col("x")), Hashes.polyHash(col("y")),
      Hashes.polyHash(col("z"))).first()
    val manual = "abc".foldLeft(0L)((acc, c) => (acc * 131 + c.toLong) % 1000000007L)
    assert(row.getLong(0) == manual)
    assert(row.getLong(0) != row.getLong(1))
    assert(row.getLong(2) == 0L)
  }

  test("polyHash2 is an independent family: a factor-1 collision no longer sinks the packed fp") {
    def h1(s: String) = s.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % 1000000007L)
    def h2(s: String) = s.foldLeft(0L)((a, c) => (a * 137 + c.toLong) % 998244353L)
    val row = Seq("abc").toDF("x").select(Hashes.polyHash2(col("x"))).first()
    assert(row.getLong(0) == h2("abc"))
    assert(h2("abc") != h1("abc"))
    // deterministic birthday search for an equal-length h1 collision
    // (~40k tries at a 2^30 modulus — the scale at which a production
    // bank would hit this for real)
    val seen = scala.collection.mutable.HashMap[Long, String]()
    var pair: Option[(String, String)] = None
    var i = 0L
    while (pair.isEmpty) {
      val s = java.lang.Long.toString(i, 36).reverse.padTo(12, '0').mkString
      seen.put(h1(s), s).filter(_ != s).foreach(t => pair = Some((s, t)))
      i += 1
    }
    val (s, t) = pair.get
    assert(h1(s) == h1(t) && s != t && s.length == t.length)
    // the OLD second factor polyHash("x"+norm) was affinely determined
    // by factor 1 at equal length, so the full 61-bit pack collided too:
    assert(h1("x" + s) == h1("x" + t))
    // the independent family separates the pair
    assert(h2(s) != h2(t))
  }

  test("int8 quantization round-trips within half a step; zero vector opts out") {
    import graft.functions.{VectorFunctions => VF}
    val df = Seq(
      (1L, Seq(0.5, -0.25, 0.1, 0.0)),
      (2L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("id", "v")
      .withColumn("scale", VF.int8Scale(col("v")))
    // zero vector: no scale, stays unquantized
    assert(df.filter(col("id") === 2L).select(col("scale")).first().isNullAt(0))
    val r = df.filter(col("id") === 1L)
      .select(col("scale"),
        VF.dequantizeInt8(VF.quantizeInt8(col("v"), col("scale")), col("scale")).as("dq"))
      .first()
    val scale = r.getDouble(0)
    assert(scale == 127.0 / 0.5)
    val dq = r.getSeq[Double](1)
    val orig = Seq(0.5, -0.25, 0.1, 0.0)
    orig.zip(dq).foreach { case (o, d) =>
      assert(math.abs(o - d) <= 0.5 / scale + 1e-12, s"$o vs $d")
    }
    // max|x| maps to exactly ±127 → exact reconstruction at the extreme
    assert(dq.head == 0.5)
  }
}
