package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, SparkTestSession}
import graft.core.Json

class MergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def baseData() = Seq(
    ("ep1", 1L, "a-v1"), ("ep1", 2L, "b-v1"),
    ("ep2", 3L, "c-v1"), ("ep2", 4L, "d-v1"),
    ("ep3", 5L, "e-v1")).toDF("episode_id", "row_id", "payload")

  private def freshLayer(): String = {
    val base = Files.createTempDirectory("graft_merge").toString
    Layout.writeVersioned(baseData(), base, "normalized",
      partitionCols = Seq("episode_id"))
    base
  }

  test("range-pack width: single-partition-value merges split by size, never one task") {
    // a delta merge touching ONE batch=bNNNN value must not serialize a
    // large delta into one task; a tiny delta must not shatter into 32
    // files. Breadth and size both widen, the shuffle width caps.
    assert(Merge.packCount(touched = 1, estBytes = BigInt(1L << 10), shuffleN = 32) == 1)
    assert(Merge.packCount(touched = 1, estBytes = BigInt(10L << 30), shuffleN = 32) == 32)
    assert(Merge.packCount(touched = 1, estBytes = BigInt(256L << 20), shuffleN = 32) == 4)
    assert(Merge.packCount(touched = 64, estBytes = BigInt(1L << 10), shuffleN = 32) == 32)
    assert(Merge.packCount(touched = 8, estBytes = BigInt(1L << 10), shuffleN = 32) == 8)
  }

  test("merge rewrites only touched partitions and inherits the rest") {
    val base = freshLayer()
    val updates = Seq(
      ("ep1", 1L, "a-v2"),            // update existing key
      ("ep1", 9L, "new-row"),         // insert into existing partition
      ("ep4", 10L, "new-part")        // brand-new partition
    ).toDF("episode_id", "row_id", "payload")

    val newDir = Merge.merge(spark, base, "normalized", updates,
      keyCols = Seq("row_id"), partitionCol = "episode_id").get

    // only touched partitions exist under v2
    val v2Parts = new java.io.File(newDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(v2Parts.toSeq == Seq("episode_id=ep1", "episode_id=ep4"))

    val out = Layout.loadLatest(spark, base, "normalized")
      .select("episode_id", "row_id", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      ("ep1", 1L, "a-v2"), ("ep1", 2L, "b-v1"), ("ep1", 9L, "new-row"),
      ("ep2", 3L, "c-v1"), ("ep2", 4L, "d-v1"),
      ("ep3", 5L, "e-v1"),
      ("ep4", 10L, "new-part")))

    // time travel still sees v1 untouched
    val v1 = Layout.loadVersion(spark, base, "normalized", 1)
    assert(v1.count() == 5)
  }

  test("merge applies deletes and drops partitions emptied by them") {
    val base = freshLayer()
    // delete both ep2 rows and update one ep1 row
    val updates = Seq(("ep1", 2L, "b-v2")).toDF("episode_id", "row_id", "payload")
    val deletes = Seq(("ep2", 3L), ("ep2", 4L)).toDF("episode_id", "row_id")

    Merge.merge(spark, base, "normalized", updates,
      keyCols = Seq("row_id"), partitionCol = "episode_id",
      deleteKeys = Some(deletes))

    val out = Layout.loadLatest(spark, base, "normalized")
      .select("episode_id", "row_id", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      ("ep1", 1L, "a-v1"), ("ep1", 2L, "b-v2"),
      ("ep3", 5L, "e-v1")))
  }

  test("chained merges resolve through the inheritance chain; compact flattens it") {
    val base = freshLayer()
    Merge.merge(spark, base, "normalized",
      Seq(("ep1", 1L, "a-v2")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")
    Merge.merge(spark, base, "normalized",
      Seq(("ep2", 3L, "c-v3")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")

    val merged = Layout.loadLatest(spark, base, "normalized")
    val got = merged.select("episode_id", "row_id", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got.contains(("ep1", 1L, "a-v2")) && got.contains(("ep2", 3L, "c-v3")))
    assert(got.size == 5)

    // compact materializes everything into a plain self-contained version
    val compactDir = Layout.compact(spark, base, "normalized",
      partitionCols = Seq("episode_id"))
    assert(Merge.mergeInfo(spark, compactDir).isEmpty)
    val flat = Layout.loadLatest(spark, base, "normalized")
      .select("episode_id", "row_id", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(flat == got)
    // the compacted dir carries all partitions locally
    val parts = new java.io.File(compactDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts == Set("episode_id=ep1", "episode_id=ep2", "episode_id=ep3"))
  }

  test("commit marker of a merged version attests the effective row count") {
    val base = freshLayer()
    val newDir = Merge.merge(spark, base, "normalized",
      Seq(("ep1", 1L, "a-v2")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id").get
    val marker = scala.io.Source.fromFile(s"$newDir/${Layout.CommitMarker}")
    val content = try marker.mkString finally marker.close()
    // 5 effective rows: 2 rewritten in ep1 + 2 inherited ep2 + 1 inherited ep3
    assert(content.contains("\"row_count\": 5"), content)
  }

  test("vacuum keeps unpublished versions a committed merge chain references") {
    val base = freshLayer()
    Merge.merge(spark, base, "normalized",
      Seq(("ep1", 1L, "a-v2")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")
    // unpublish v1 (rollback-style) — v2 still inherits ep2/ep3 from it
    val f = new java.io.File(s"$base/normalized/v1/${Layout.CommitMarker}")
    assert(f.delete())
    val removed = Layout.vacuum(spark, base, "normalized", retentionMs = 0L)
    assert(removed.isEmpty, s"vacuum must not reclaim referenced v1: $removed")
    // and the merged version still reads completely
    assert(Layout.loadLatest(spark, base, "normalized").count() == 5)
  }

  test("manifest checkpoint flattens the chain with zero data movement; merges stack on top") {
    val base = freshLayer()
    Merge.merge(spark, base, "normalized",
      Seq(("ep1", 1L, "a-v2")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")
    Merge.merge(spark, base, "normalized",
      Seq(("ep2", 3L, "c-v3")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")
    assert(Merge.chainDepth(spark, base, "normalized") == 2)
    val before = Layout.loadLatest(spark, base, "normalized")
      .select("episode_id", "row_id", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

    def dataFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      walk(new java.io.File(s"$base/normalized"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath, f.lastModified())).toMap
    }
    val filesBefore = dataFiles()

    val ckDir = Merge.checkpoint(spark, base, "normalized")

    // metadata-only: not ONE data file moved, was rewritten, or appeared
    assert(dataFiles() == filesBefore,
      "checkpoint touched data files — it must be metadata-only")
    assert(!new java.io.File(ckDir).listFiles().exists(_.getName.endsWith(".parquet")),
      "checkpoint version dir must hold no data of its own")

    // reads resolve in one marker parse (depth 0) to identical content
    assert(Merge.chainDepth(spark, base, "normalized") == 0)
    assert(Merge.manifestInfo(spark, ckDir).nonEmpty)
    val after = Layout.loadLatest(spark, base, "normalized")
      .select("episode_id", "row_id", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(after == before)
    // the commit marker attests the effective row count across the
    // referenced dirs
    assert(Layout.committedRowCount(spark, ckDir).contains(5L))

    // a further merge stacks on the checkpoint: depth restarts at 1 and
    // resolution goes through the manifest, not the old chain
    Merge.merge(spark, base, "normalized",
      Seq(("ep3", 5L, "e-v5")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")
    assert(Merge.chainDepth(spark, base, "normalized") == 1)
    val stacked = Layout.loadLatest(spark, base, "normalized")
      .select("episode_id", "row_id", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(stacked == before - (("ep3", 5L, "e-v1")) + (("ep3", 5L, "e-v5")))
  }

  test("vacuum keeps versions a committed manifest checkpoint references") {
    val base = freshLayer()
    Merge.merge(spark, base, "normalized",
      Seq(("ep1", 1L, "a-v2")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")
    Merge.checkpoint(spark, base, "normalized")
    // unpublish v1 and v2 — the checkpoint's manifest still points into
    // both version directories
    Seq(1, 2).foreach { v =>
      val f = new java.io.File(s"$base/normalized/v$v/${Layout.CommitMarker}")
      assert(f.delete())
    }
    val removed = Layout.vacuum(spark, base, "normalized", retentionMs = 0L)
    assert(removed.isEmpty, s"vacuum must not reclaim manifest-referenced dirs: $removed")
    assert(Layout.loadLatest(spark, base, "normalized").count() == 5)
  }

  test("merging onto an unpartitioned base version is refused") {
    val base = Files.createTempDirectory("graft_merge_flat").toString
    Layout.writeVersioned(baseData(), base, "normalized") // no partitionBy
    val e = intercept[IllegalArgumentException] {
      Merge.merge(spark, base, "normalized",
        Seq(("ep1", 1L, "v")).toDF("episode_id", "row_id", "payload"),
        Seq("row_id"), "episode_id")
    }
    assert(e.getMessage.contains("not hive-partitioned"))
  }

  test("delete keys without the partition column are refused") {
    val base = freshLayer()
    val e = intercept[IllegalArgumentException] {
      Merge.merge(spark, base, "normalized",
        Seq(("ep1", 1L, "v")).toDF("episode_id", "row_id", "payload"),
        Seq("row_id"), "episode_id",
        deleteKeys = Some(Seq(Tuple1(3L)).toDF("row_id")))
    }
    assert(e.getMessage.contains("episode_id"))
  }

  test("updates narrower than the layer schema are refused, not silently projected") {
    val base = freshLayer()
    val e = intercept[IllegalArgumentException] {
      Merge.merge(spark, base, "normalized",
        Seq(("ep1", 1L)).toDF("episode_id", "row_id"),
        Seq("row_id"), "episode_id")
    }
    assert(e.getMessage.contains("payload"))
  }

  test("additive schema evolution: extra updates columns widen the layer; old rows read null") {
    val base = freshLayer()
    // extra column WITHOUT the flag: refused with the actionable message
    val wide = Seq(("ep1", 1L, "a-v2", 0.9))
      .toDF("episode_id", "row_id", "payload", "score")
    val e = intercept[IllegalArgumentException] {
      Merge.merge(spark, base, "normalized", wide, Seq("row_id"), "episode_id")
    }
    assert(e.getMessage.contains("allowSchemaEvolution"))
    // with the flag: the merged head carries the new column — updated
    // rows with values, survivors and INHERITED partitions as null
    Merge.merge(spark, base, "normalized", wide, Seq("row_id"), "episode_id",
      allowSchemaEvolution = true)
    val out = Layout.loadLatest(spark, base, "normalized")
    assert(out.columns.toSet == Set("episode_id", "row_id", "payload", "score"))
    val rows = out.select("row_id", "payload", "score")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set(
      (1L, "a-v2", Some(0.9)),  // the evolved update
      (2L, "b-v1", None),       // survivor in the touched partition
      (3L, "c-v1", None), (4L, "d-v1", None), // inherited ep2
      (5L, "e-v1", None)))      // inherited ep3
    // a FOLLOW-UP merge at the evolved schema works without the flag,
    // and dropping the evolved column again is refused
    Merge.merge(spark, base, "normalized",
      Seq(("ep3", 5L, "e-v3", 0.5)).toDF("episode_id", "row_id", "payload", "score"),
      Seq("row_id"), "episode_id")
    val e2 = intercept[IllegalArgumentException] {
      Merge.merge(spark, base, "normalized",
        Seq(("ep1", 2L, "b-v3")).toDF("episode_id", "row_id", "payload"),
        Seq("row_id"), "episode_id")
    }
    assert(e2.getMessage.contains("score"))
    // the evolution is DECLARED on the merge marker (tolerant reads are
    // gated on it — a never-evolved chain keeps failing loudly on a
    // root-level column mismatch), and the chain stays marked through
    // later non-evolving merges and a metadata-only checkpoint
    val vs = Layout.committedVersions(spark, base, "normalized")
    val markers = vs.flatMap(v =>
      Merge.mergeInfo(spark, Layout.versionedDir(base, "normalized", v)))
    assert(markers.count(_.evolved) == 1, s"evolved flags: $markers")
    assert(Merge.chainEvolved(spark, base, "normalized", vs.last))
    Merge.checkpoint(spark, base, "normalized")
    val vCk = Layout.committedVersions(spark, base, "normalized").last
    assert(Merge.chainEvolved(spark, base, "normalized", vCk),
      "checkpoint dropped the chain's evolved declaration")
    assert(Layout.loadLatest(spark, base, "normalized")
      .filter(col("row_id") === 2L).select("score").collect().head.isNullAt(0))
    // compact flattens the evolved chain; the widened schema survives
    Layout.compact(spark, base, "normalized", partitionCols = Seq("episode_id"))
    val flat = Layout.loadLatest(spark, base, "normalized")
    assert(flat.columns.toSet == Set("episode_id", "row_id", "payload", "score"))
    assert(flat.filter(col("row_id") === 5L).select("score")
      .collect().head.getDouble(0) == 0.5)
    assert(flat.count() == 5)
  }

  test("unsafe partition values and non-string partition columns are refused") {
    val base = freshLayer()
    intercept[IllegalArgumentException] {
      Merge.merge(spark, base, "normalized",
        Seq(("ep 1/x", 1L, "v")).toDF("episode_id", "row_id", "payload"),
        Seq("row_id"), "episode_id")
    }
    intercept[IllegalArgumentException] {
      Merge.merge(spark, base, "normalized",
        Seq((7L, 1L, "v")).toDF("episode_id", "row_id", "payload"),
        Seq("row_id"), "episode_id")
    }
  }

  private def rows(base: String): Set[(String, Long, String)] =
    Layout.loadLatest(spark, base, "normalized")
      .select("episode_id", "row_id", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  test("a merge that touches no partition publishes nothing and returns None") {
    val base = freshLayer()
    val none = Seq(("ep1", 1L, "v")).toDF("episode_id", "row_id", "payload")
      .filter(col("row_id") < 0)
    val (out, jobs) = JobCount(spark)(Merge.merge(spark, base, "normalized", none,
      Seq("row_id"), "episode_id", deleteKeys = Some(none.select("episode_id", "row_id"))))
    assert(out.isEmpty)
    assert(jobs <= 1, s"an empty merge costs at most its touched-partition collect: $jobs")
    assert(Layout.versions(spark, base, "normalized") == Seq(1))
  }

  test("merge commits attest the rows observed on the write, sampled range exchange included") {
    // enough touched partitions that the range exchange has several
    // partitions, so its sampling job re-runs the plan beneath it: a
    // count observed below the exchange would be inflated
    val base = Files.createTempDirectory("graft_merge_attest").toString
    val wide = spark.range(400).select(
      format_string("ep%d", col("id") % 4).as("episode_id"),
      col("id").as("row_id"), format_string("p%d", col("id")).as("payload"))
    Layout.writeVersioned(wide, base, "normalized", partitionCols = Seq("episode_id"))
    def attested(dir: String) = Layout.committedRowCount(spark, dir).get
    // upsert: ep0/ep1 rewritten (replaced rows observed on the survivors
    // read), ep7 new, 30 keys updated in place, 60 inserted, 10 deleted
    val upserts = spark.range(0, 90).select(
      format_string("ep%d", when(col("id") < 30, col("id") % 2).otherwise(lit(7))).as("episode_id"),
      when(col("id") < 30, col("id") * 4 + col("id") % 2).otherwise(col("id") + 1000).as("row_id"),
      lit("v2").as("payload"))
    val deletes = Seq(("ep0", 200L), ("ep0", 204L), ("ep1", 201L), ("ep1", 205L),
      ("ep0", 208L), ("ep0", 212L), ("ep1", 209L), ("ep1", 213L), ("ep0", 216L),
      ("ep1", 217L)).toDF("episode_id", "row_id")
    val d2 = Merge.merge(spark, base, "normalized", upserts, Seq("row_id"), "episode_id",
      deleteKeys = Some(deletes)).get
    assert(Merge.packCount(3, BigInt(0),
      spark.conf.get("spark.sql.shuffle.partitions").toInt) > 1)
    assert(attested(d2) == 400 + 60 - 10)
    assert(attested(d2) == Layout.loadLatest(spark, base, "normalized").count())
    // pure append of three new partitions: only the written rows count
    val d3 = Merge.merge(spark, base, "normalized",
      spark.range(120).select(format_string("ep%d", col("id") % 3 + 10).as("episode_id"),
        (col("id") + 5000).as("row_id"), lit("v3").as("payload")),
      Seq("row_id"), "episode_id").get
    assert(attested(d3) == 450 + 120)
    assert(attested(d3) == Layout.loadLatest(spark, base, "normalized").count())
  }

  test("merged and checkpointed versions load under their markers' schemas, with no job") {
    val base = freshLayer()
    Merge.merge(spark, base, "normalized",
      Seq(("ep1", 1L, "a-v2"), ("ep4", 9L, "i-v2")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")
    val (merged, jobs) = JobCount(spark)(Layout.loadLatest(spark, base, "normalized"))
    assert(jobs == 0, s"loading a merged version started $jobs jobs")
    assert(merged.columns.toSeq == Seq("row_id", "payload", "episode_id"))
    assert(merged.count() == 6)
    Merge.checkpoint(spark, base, "normalized")
    val (ck, ckJobs) = JobCount(spark)(Layout.loadLatest(spark, base, "normalized"))
    assert(ckJobs == 0, s"loading a checkpoint started $ckJobs jobs")
    assert(ck.schema == merged.schema && ck.count() == 6)
  }

  test("a never-evolved chain whose older root lacks a column fails loudly") {
    val base = Files.createTempDirectory("graft_merge_narrow").toString
    Layout.writeVersioned(baseData().drop("payload"), base, "normalized",
      partitionCols = Seq("episode_id"))
    // a hand-built link: a wide ep1 rewrite published as a merge of v1
    // whose marker declares no evolution
    val v2 = Layout.writeVersioned(
      Seq(("ep1", 1L, "a-v2")).toDF("episode_id", "row_id", "payload"),
      base, "normalized", partitionCols = Seq("episode_id"))
    Merge.writeMarker(spark, v2, Merge.MergeInfo(1, "episode_id", Seq("episode_id=ep1")))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Layout.loadLatest(spark, base, "normalized")
    }
    assert(e.getMessage.contains("payload"), e.getMessage)
  }

  test("markers without a recorded schema still load and merge by inference") {
    val base = freshLayer()
    Merge.merge(spark, base, "normalized",
      Seq(("ep1", 1L, "a-v2")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")
    val expected = rows(base)
    Layout.committedVersions(spark, base, "normalized").foreach { v =>
      val p = java.nio.file.Paths.get(Layout.versionedDir(base, "normalized", v), Layout.CommitMarker)
      val marker = Json.parse(Files.readString(p))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      assert(marker.remove("schema") != null)
      Files.writeString(p, marker.toString)
      Files.deleteIfExists(p.resolveSibling(s".${Layout.CommitMarker}.crc"))
      assert(Layout.committedSchema(spark, p.getParent.toString).isEmpty)
    }
    assert(rows(base) == expected)
    Merge.merge(spark, base, "normalized",
      Seq(("ep2", 3L, "c-v3")).toDF("episode_id", "row_id", "payload"),
      Seq("row_id"), "episode_id")
    assert(rows(base) == expected - (("ep2", 3L, "c-v1")) + (("ep2", 3L, "c-v3")))
  }
}
