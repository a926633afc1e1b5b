package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.IncrementalAgg

class StreamingAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("foreachBatch maintenance converges to the full recompute") {
    val stateDir = Files.createTempDirectory("graft_sagg").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_sagg_ck").toString
    val specs = Seq(IncrementalAgg.Spec("v", Seq("sum", "max")))

    val input = MemoryStream[(String, Double)](spark)
    input.addData(("a", 1.0), ("b", 5.0))
    input.addData(("a", 2.5), ("c", -1.0))

    val q = StreamingAggMaintenance.run(
      input.toDF().toDF("k", "v"), stateDir, ckpt, Seq("k"), specs)
    q.awaitTermination()

    val st = StreamingAggMaintenance.currentState(spark, stateDir)
    assert(st.isDefined)
    val rows = st.get.orderBy("k").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("rows"),
        r.getAs[Double]("v_sum"), r.getAs[Double]("v_max")))
    assert(rows.toSeq == Seq(("a", 2L, 3.5, 2.5), ("b", 1L, 5.0, 5.0),
      ("c", 1L, -1.0, -1.0)))

    // a second drain folds further batches into the SAME state
    input.addData(("b", 1.0))
    val q2 = StreamingAggMaintenance.run(
      input.toDF().toDF("k", "v"), stateDir, ckpt, Seq("k"), specs)
    q2.awaitTermination()
    val b = StreamingAggMaintenance.currentState(spark, stateDir).get
      .filter($"k" === "b").head()
    assert(b.getAs[Long]("rows") == 2 && b.getAs[Double]("v_sum") == 6.0)
  }

  test("an uncommitted newer state is never read; its batch replaces it and folds once") {
    val root = Files.createTempDirectory("graft_sagg_crash").toString
    val in = s"$root/in"
    val stateDir = s"$root/state"
    val ckpt = s"$root/ck"
    val specs = Seq(IncrementalAgg.Spec("v", Seq("sum")))
    def drain(): Seq[Long] = {
      val q = StreamingAggMaintenance.run(
        spark.readStream.schema("k STRING, v DOUBLE").parquet(in),
        stateDir, ckpt, Seq("k"), specs)
      q.awaitTermination()
      q.recentProgress.map(_.batchId).toSeq
    }
    def state(): Map[String, (Long, Double)] =
      StreamingAggMaintenance.currentState(spark, stateDir).get.collect()
        .map(r => r.getAs[String]("k") -> (r.getAs[Long]("rows"), r.getAs[Double]("v_sum")))
        .toMap

    Seq(("a", 1.0), ("b", 5.0)).toDF("k", "v").write.parquet(in)
    assert(drain() == Seq(0)) // commits state v1
    val first = Map("a" -> (1L, 1.0), "b" -> (1L, 5.0))
    assert(state() == first)

    // batch 1 crashed mid-write: v2 holds data files but no commit marker
    StreamingAggMaintenance.currentState(spark, stateDir).get
      .withColumn("v_sum", $"v_sum" * 100).write.parquet(s"$stateDir/v2")
    assert(state() == first)

    // batch 1 runs again: it replaces the leftover and folds once, and
    // the disk keeps only the new state
    Seq(("a", 2.0)).toDF("k", "v").write.mode("append").parquet(in)
    assert(drain() == Seq(1))
    val second = Map("a" -> (2L, 3.0), "b" -> (1L, 5.0))
    assert(state() == second)
    assert(graft.ingest.Layout.versions(spark, root, "state") == Seq(2))

    // redelivered after its state committed (the checkpoint never
    // recorded it done): the committed version says it is applied
    val done = new org.apache.hadoop.fs.Path(s"$ckpt/commits/1")
    done.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(done, false)
    assert(drain() == Seq(1))
    assert(state() == second)
  }
}
