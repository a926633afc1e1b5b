package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, SparkTestSession}
import graft.core.Json

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("versioned writes never clobber: v1 then v2, loadLatest reads v2") {
    val base = Files.createTempDirectory("graft_layout").toString
    val d1 = Seq((1, "a")).toDF("id", "x")
    val d2 = Seq((2, "b"), (3, "c")).toDF("id", "x")
    val p1 = Layout.writeVersioned(d1, base, "normalized")
    val p2 = Layout.writeVersioned(d2, base, "normalized")
    assert(p1.endsWith("normalized/v1") && p2.endsWith("normalized/v2"))
    assert(Layout.versions(spark, base, "normalized") == Seq(1, 2))
    assert(Layout.loadLatest(spark, base, "normalized").count() == 2)
    // v1 still intact
    assert(spark.read.parquet(p1).count() == 1)
  }

  test("a committed zero-row version loads as an empty frame of the written schema") {
    val base = Files.createTempDirectory("graft_layout_empty").toString
    val empty = Seq((1L, "a", 0.5)).toDF("id", "x", "score").filter(col("id") < 0)
    Layout.writeVersioned(empty, base, "spans")
    Layout.writeVersioned(empty, base, "beats", partitionCols = Seq("x"))
    for ((layer, cols) <- Seq("spans" -> Seq("id", "x", "score"), "beats" -> Seq("id", "score", "x"))) {
      val back = Layout.loadLatest(spark, base, layer)
      assert(back.count() == 0)
      assert(back.columns.toSeq == cols)
      assert(back.schema("id").dataType == org.apache.spark.sql.types.LongType)
      assert(Layout.loadVersion(spark, base, layer, 1).columns.toSeq == cols)
    }
  }

  test("explicit version overwrites in place") {
    val base = Files.createTempDirectory("graft_layout2").toString
    Layout.writeVersioned(Seq((1, "a")).toDF("id", "x"), base, "spans", Some(3))
    Layout.writeVersioned(Seq((9, "z")).toDF("id", "x"), base, "spans", Some(3))
    assert(Layout.latestVersion(spark, base, "spans").contains(3))
    assert(Layout.loadLatest(spark, base, "spans")
      .select("id").as[Int].collect().toSeq == Seq(9))
  }

  test("version discovery ignores non-vN directories and files") {
    val base = Files.createTempDirectory("graft_layout_nv").toString
    Layout.writeVersioned(Seq((1, "a")).toDF("id", "x"), base, "spans", Some(2))
    Files.createDirectories(java.nio.file.Paths.get(s"$base/spans/not-a-version"))
    Files.createDirectories(java.nio.file.Paths.get(s"$base/spans/v12abc"))
    Files.writeString(java.nio.file.Paths.get(s"$base/spans/v9"), "a file, not a dir")
    assert(Layout.versions(spark, base, "spans") == Seq(2))
  }

  test("uncommitted versions are invisible: loadLatest skips a half-written vN") {
    val base = Files.createTempDirectory("graft_layout_tx").toString
    Layout.writeVersioned(Seq((1, "a")).toDF("id", "x"), base, "normalized")
    // simulate a writer that died mid-write: data present, no marker
    Seq((2, "b"), (3, "c")).toDF("id", "x")
      .write.parquet(s"$base/normalized/v2")
    assert(Layout.versions(spark, base, "normalized") == Seq(1, 2))
    assert(Layout.committedVersions(spark, base, "normalized") == Seq(1))
    assert(Layout.loadLatest(spark, base, "normalized").count() == 1)
    // committing publishes it (footer-summed row count, no data scan)
    assert(Layout.commit(spark, s"$base/normalized/v2") == 2L)
    assert(Layout.loadLatest(spark, base, "normalized").count() == 2)
  }

  test("time travel, rollback, and vacuum") {
    val base = Files.createTempDirectory("graft_layout_tt").toString
    Layout.writeVersioned(Seq((1, "a")).toDF("id", "x"), base, "spans")
    Layout.writeVersioned(Seq((2, "b"), (3, "c")).toDF("id", "x"), base, "spans")
    assert(Layout.loadVersion(spark, base, "spans", 1).count() == 1)
    // rollback un-publishes v2 without touching its data
    assert(Layout.rollbackTo(spark, base, "spans", keep = 1) == Seq(2))
    assert(Layout.loadLatest(spark, base, "spans")
      .select("id").as[Int].collect().toSeq == Seq(1))
    intercept[IllegalArgumentException] {
      Layout.loadVersion(spark, base, "spans", 2)
    }
    // the next write must NOT clobber the rolled-back (still on disk) v2
    val p3 = Layout.writeVersioned(Seq((9, "z")).toDF("id", "x"), base, "spans")
    assert(p3.endsWith("spans/v3"))
    assert(Layout.rollbackTo(spark, base, "spans", keep = 1) == Seq(3))
    // default retention protects fresh (possibly in-flight) uncommitted
    // dirs from a concurrent vacuum...
    assert(Layout.vacuum(spark, base, "spans") == Nil)
    assert(Layout.versions(spark, base, "spans") == Seq(1, 2, 3))
    // ...and an expired retention reclaims everything unpublished
    assert(Layout.vacuum(spark, base, "spans", retentionMs = -60000)
      .map(_.takeRight(2)).sorted == Seq("v2", "v3"))
    assert(Layout.versions(spark, base, "spans") == Seq(1))
    // rolling back to an uncommitted version is refused
    intercept[IllegalArgumentException] {
      Layout.rollbackTo(spark, base, "spans", keep = 7)
    }
  }

  test("compact packs small files into a new committed version") {
    val base = Files.createTempDirectory("graft_layout_cp").toString
    // 64 tiny files
    val df = spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
    Layout.writeVersioned(df.repartition(64), base, "normalized")
    val v1Files = spark.read.parquet(s"$base/normalized/v1").inputFiles.length
    assert(v1Files == 64)
    val out = Layout.compact(spark, base, "normalized", targetBytes = 1L << 30,
      sortCol = Some("id"))
    assert(out.endsWith("normalized/v2"))
    val compacted = Layout.loadLatest(spark, base, "normalized")
    assert(compacted.inputFiles.length < 8)
    // same data, new layout; v1 still readable via time travel
    assert(compacted.count() == 10000)
    assert(compacted.agg(sum(col("id"))).head.getLong(0)
      == Layout.loadVersion(spark, base, "normalized", 1)
        .agg(sum(col("id"))).head.getLong(0))
  }

  test("compact preserves hive partitioning, one file per partition") {
    val base = Files.createTempDirectory("graft_layout_cpp").toString
    val df = spark.range(1000).select(col("id"), (col("id") % 4).as("k"))
    Layout.writeVersioned(df.repartition(16), base, "spans",
      partitionCols = Seq("k"))
    assert(spark.read.parquet(s"$base/spans/v1").inputFiles.length > 16)
    Layout.compact(spark, base, "spans", partitionCols = Seq("k"))
    val compacted = Layout.loadLatest(spark, base, "spans")
    assert(compacted.inputFiles.length == 4) // one per k
    assert(compacted.count() == 1000)
    // still partition-pruned
    val plan = compacted.filter(col("k") === 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("loadLatest on an empty layer fails with a clear error") {
    val base = Files.createTempDirectory("graft_layout3").toString
    val e = intercept[IllegalArgumentException] {
      Layout.loadLatest(spark, base, "beats")
    }
    assert(e.getMessage.contains("no versions"))
  }

  test("archiveRaw copies sources renamed to episode ids (S16)") {
    val base = Files.createTempDirectory("graft_layout4").toString
    val srcDir = Files.createTempDirectory("graft_raw_src")
    val f = srcDir.resolve("some file.jsonl")
    Files.write(f, "{}".getBytes)
    val out = Layout.archiveRaw(spark, Seq((f.toString, "EP1")), base)
    assert(out.length == 1 && out.head.endsWith("raw/EP1.jsonl"))
    assert(Files.readAllLines(java.nio.file.Paths.get(
      new java.net.URI(out.head).getPath match { case "" => out.head; case p => p }
    )).get(0) == "{}")
  }

  test("partitioned normalized sink prunes to one episode's files") {
    val out = Files.createTempDirectory("graft_part").toString + "/normalized"
    val df = Seq(
      ("u1", "ep1", 0.0, 1.0, "A", "x", 1.0),
      ("u2", "ep2", 0.0, 1.0, "B", "y", 1.0))
      .toDF("utterance_id", "episode_id", "start", "end", "speaker", "text", "duration")
    Ingest.writeNormalized(df, out)
    val read = spark.read.parquet(out).filter(col("episode_id") === "ep1")
    assert(read.count() == 1)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("episode_id"))
    // append mode lands a new episode without rewriting existing ones
    val more = Seq(("u3", "ep3", 0.0, 1.0, "C", "z", 1.0))
      .toDF("utterance_id", "episode_id", "start", "end", "speaker", "text", "duration")
    Ingest.writeNormalized(more, out, mode = "append")
    assert(spark.read.parquet(out).count() == 3)
  }

  test("time travel by timestamp picks the version committed at that instant") {
    val base = java.nio.file.Files.createTempDirectory("graft_asof").toString
    import spark.implicits._
    Layout.writeVersioned(Seq(1).toDF("v"), base, "normalized")
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    Layout.writeVersioned(Seq(1, 2).toDF("v"), base, "normalized")

    assert(Layout.loadAsOf(spark, base, "normalized", between).count() == 1)
    assert(Layout.loadAsOf(spark, base, "normalized",
      System.currentTimeMillis()).count() == 2)
    val e = intercept[IllegalArgumentException] {
      Layout.loadAsOf(spark, base, "normalized", between - 1000000L)
    }
    assert(e.getMessage.contains("earliest"))
  }

  test("a committed version loads under its marker's schema, with no job") {
    val base = Files.createTempDirectory("graft_layout_schema").toString
    val df = spark.range(50).select(col("id"), (col("id") % 3).as("k"),
      format_string("x%d", col("id")).as("x"))
    Layout.writeVersioned(df, base, "spans")
    Layout.writeVersioned(df, base, "beats", partitionCols = Seq("k"))
    for ((layer, cols) <- Seq("spans" -> Seq("id", "k", "x"), "beats" -> Seq("id", "x", "k"))) {
      val (back, jobs) = JobCount(spark)(Layout.loadLatest(spark, base, layer))
      assert(jobs == 0, s"loading $layer started $jobs jobs")
      assert(back.columns.toSeq == cols && back.count() == 50)
      // the partition column reads back as written (long), not as the
      // narrower type its directory names would infer
      assert(back.schema("k").dataType == org.apache.spark.sql.types.LongType)
    }
  }

  test("writeVersioned attests the rows its write observed, above a sampled range exchange") {
    val base = Files.createTempDirectory("graft_layout_attest").toString
    Layout.writeVersioned(spark.range(3000).toDF().repartition(8), base, "spans")
    // compact range-packs into several files: its range partitioner's
    // sampling job runs beneath the observed frame and must not count
    val dir = Layout.compact(spark, base, "spans", targetBytes = 4L << 10,
      sortCol = Some("id"))
    assert(Layout.loadLatest(spark, base, "spans").inputFiles.length > 1)
    assert(Layout.committedRowCount(spark, dir).contains(3000L))
    assert(Layout.committedRowCount(spark, s"$base/spans/v1").contains(3000L))
  }

  test("a marker without a recorded schema still loads by inference") {
    val base = Files.createTempDirectory("graft_layout_noschema").toString
    Layout.writeVersioned(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), base, "spans",
      partitionCols = Seq("x"))
    val p = java.nio.file.Paths.get(base, "spans", "v1", Layout.CommitMarker)
    val marker = Json.parse(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(marker.remove("schema") != null)
    Files.writeString(p, marker.toString)
    Files.deleteIfExists(p.resolveSibling(s".${Layout.CommitMarker}.crc"))
    val back = Layout.loadLatest(spark, base, "spans")
    assert(back.columns.toSeq == Seq("id", "x"))
    assert(back.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}
