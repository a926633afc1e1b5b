package graft

import org.scalatest.funsuite.AnyFunSuite

/** PSI drift semantics on a hand-computed corpus: identical baseline and
  * current histograms must score exactly 0, and a clean bin swap must
  * score the closed-form value — smoothed shares over the full bin grid,
  * (p_c − p_b)·ln(p_c/p_b) summed per type.
  */
class PsiDriftSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("identical halves score 0; a bin swap scores the closed form") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_psi").toString
    // "same": even and odd ids both put 2 events in bin 0 -> psi = 0.
    // "drift": evens in bin 0 (value 5), odds in bin 4 (value 150).
    //   B = 6, Nb = Nc = 2: shares (2+.5)/(2+3) = .5 vs (0+.5)/5 = .1 in
    //   two bins -> psi = 2 * 0.4*ln(5) = 1.287550 (4 untouched bins
    //   contribute 0: both shares are the same smoothed floor).
    val rows = Seq(
      (0L, "same", 5.0), (1L, "same", 5.0), (2L, "same", 5.0), (3L, "same", 5.0),
      (10L, "drift", 5.0), (12L, "drift", 5.0), (11L, "drift", 150.0), (13L, "drift", 150.0))
    rows.map { case (id, t, v) => (id, t, v, id * 1000000L, id) }
      .toDF("event_id", "event_type", "value", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = queries.EventQueries.psiDrift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("same") == ((2L, 2L, 0.0)), s"identical halves drifted: $out")
    val (nb, nc, psi) = out("drift")
    assert(nb == 2L && nc == 2L)
    val expect = BigDecimal(2.0 * 0.4 * math.log(5.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(psi - expect) < 1e-9, s"psi=$psi expect=$expect")
  }

  test("below-range values (bin -1) are excluded from totals, matching the oracle") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_psi_neg").toString
    // base side (even ids): values 5 and -3 — the -3 falls below the
    // first edge and must NOT count toward tb (the oracle derives totals
    // from the grid-joined frame, bins 0..5 only)
    val rows = Seq(
      (0L, "neg", 5.0), (2L, "neg", -3.0),
      (1L, "neg", 5.0), (3L, "neg", 5.0))
    rows.map { case (id, t, v) => (id, t, v, id * 1000000L, id) }
      .toDF("event_id", "event_type", "value", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = queries.EventQueries.psiDrift(spark, dir).collect().head
    assert(r.getLong(1) == 1L, s"n_base must exclude the below-range event: $r")
    assert(r.getLong(2) == 2L)
    // closed form with tb=1, tc=2 over B=6 bins: only bin 0 is occupied
    val b = 6
    def share(n: Long, tot: Long) = (n + 0.5) / (tot + 0.5 * b)
    val terms = (0 until b).map { i =>
      val pb = share(if (i == 0) 1L else 0L, 1L)
      val pc = share(if (i == 0) 2L else 0L, 2L)
      (pc - pb) * math.log(pc / pb)
    }
    val expect = BigDecimal(terms.sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getDouble(3) - expect) < 1e-6, s"psi=${r.getDouble(3)} expect=$expect")
  }
}
