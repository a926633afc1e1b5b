package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The entropy vocabulary must come from the data: an event type that
  * did not exist when the query was written still participates in each
  * user's type mix (round-5 verdict: a compiled-in vocabulary silently
  * dropped unseen types from the entropy).
  */
class UserEntropySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("an unseen sixth event type is counted in the entropy") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_entropy").toString
    // u1: an even click/zzz_new split -> H = ln 2 ~ 0.6931 (bin 0, i.e.
    // [0.4, 0.8)). A hard-coded 5-type vocabulary would drop zzz_new,
    // see only clicks, and report H = 0 (bin -1).
    // u2: all view -> H = 0 (bin -1) either way, the control.
    val rows = Seq(
      ("u1", "click", 1000000L), ("u1", "click", 2000000L),
      ("u1", "zzz_new", 3000000L), ("u1", "zzz_new", 4000000L),
      ("u2", "view", 5000000L), ("u2", "view", 6000000L))
    rows.toDF("user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = queries.EventQueries.userEntropy(spark, dir)
      .select("bin", "n_users", "avg_entropy").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.contains((-1, 1L, 0.0)), s"control user missing from bin -1: $out")
    val bin0 = out.find(_._1 == 0)
    assert(bin0.exists(t => t._2 == 1L && math.abs(t._3 - 0.693147) < 1e-6),
      s"mixed click/zzz_new user not counted with both types: $out")
  }
}
