package graft.cli

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The `curate` command end to end on the synthetic documents table:
  * every report in the suite lands as a readable non-empty parquet —
  * the CLI surface must track the operator inventory, not trail it.
  */
class CurateCliSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("curate writes the full report suite") {
    val outDir = Files.createTempDirectory("graft_curate_out").toString
    Main.run(spark, Array("curate", "/root/testdata/sf0.001/documents.parquet", outDir))
    val expected = Seq("decontamination", "curriculum_deciles", "domain_mixture",
      "boilerplate", "tfidf_terms", "packing_stats", "pack_assignments",
      "source_dup_rates", "cross_lang", "type_token", "source_novelty",
      "perplexity_buckets", "importance_weights", "truncation_audit",
      "chunking_stats", "weighted_sample", "heavy_hitters")
    expected.foreach { name =>
      val df = spark.read.parquet(s"$outDir/$name")
      assert(df.count() > 0, s"$name report is empty")
    }
  }

  test("merge --evolve widens a layer from the CLI; without the flag extra columns refuse") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val lake = Files.createTempDirectory("graft_cli_merge").toString
    graft.ingest.Layout.writeVersioned(
      Seq(("ep1", 1L, "a"), ("ep2", 2L, "b")).toDF("episode_id", "row_id", "payload"),
      lake, "normalized", partitionCols = Seq("episode_id"))
    val upd = Files.createTempDirectory("graft_cli_upd").toString + "/u"
    Seq(("ep1", 1L, "a2", 0.7)).toDF("episode_id", "row_id", "payload", "score")
      .write.parquet(upd)
    intercept[IllegalArgumentException] {
      Main.run(spark, Array("merge", lake, "normalized", upd, "row_id", "episode_id"))
    }
    Main.run(spark, Array("merge", lake, "normalized", upd, "row_id", "episode_id", "--evolve"))
    val out = graft.ingest.Layout.loadLatest(spark, lake, "normalized")
    assert(out.columns.contains("score"))
    assert(out.filter(col("row_id") === 2L).select("score").collect().head.isNullAt(0))
  }

  test("curate-apply then curate-delta drive the composed run end to end") {
    import org.apache.spark.sql.functions._
    val lake = Files.createTempDirectory("graft_curate_lake").toString
    val full = Files.createTempDirectory("graft_curate_full").toString + "/docs"
    val delta = Files.createTempDirectory("graft_curate_delta").toString + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(pmod(col("doc_id"), lit(10)) =!= 3).write.parquet(full)
    docs.filter(pmod(col("doc_id"), lit(10)) === 3).write.parquet(delta)
    Main.run(spark, Array("curate-apply", full, lake))
    val acc = spark.read.parquet(s"$lake/curated/accounting/v1")
    assert(acc.count() == 8)
    Main.run(spark, Array("curate-delta", delta, lake))
    // the delta MERGEd into the shards layer: a new committed version
    assert(graft.ingest.Layout
      .committedVersions(spark, lake, "curated/shards").size >= 2)

    // lake-status reports every curated layer with committed versions,
    // attested rows, chain depth and partition counts
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Array("lake-status", lake))
    }
    val status = out.toString
    Seq("curated/shards", "curated/norm_bank", "curated/neardup_index",
      "curated/bench_grams", "curated/accounting").foreach { l =>
      assert(status.contains(l), s"lake-status missing $l:\n$status")
    }
  }

  test("lake-status names a layer relative to a lake path given without a scheme") {
    import spark.implicits._
    val lake = Files.createTempDirectory("graft_cli_status").toString
    graft.ingest.Layout.writeVersioned(Seq(1, 2, 3).toDF("x"), s"$lake/catalogs", "episodes")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Array("lake-status", lake))
    }
    assert(out.toString.split("\n").toSeq.drop(1) ==
      Seq("catalogs/episodes              1/1       v1     3          0      0"), out.toString)
  }

  test("a command given too few arguments names its usage line") {
    val lake = Files.createTempDirectory("graft_cli_arity").toString
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Array("snapshot", lake))
    }
    assert(e.getMessage.contains("snapshot <lakeDir> <snapshotsDir> <version>"), e.getMessage)
  }

  test("validate with failed error checks throws after printing its summary") {
    import spark.implicits._
    val lake = Files.createTempDirectory("graft_cli_validate").toString
    // a duplicated utterance_id: id_duplicates_utterance_id fails
    Seq(("u1", "ep1", 0.0, 1.0), ("u1", "ep1", 1.0, 2.0))
      .toDF("utterance_id", "episode_id", "start", "end")
      .write.parquet(s"$lake/normalized")
    val out = new java.io.ByteArrayOutputStream()
    intercept[Main.ValidationFailed] {
      Console.withOut(new java.io.PrintStream(out)) {
        Main.run(spark, Array("validate", lake))
      }
    }
    val printed = out.toString
    assert(printed.contains("id_duplicates_utterance_id"), printed)
    assert(printed.linesIterator.exists(l => l.startsWith("validation: ") &&
      !l.contains("errors=0")), printed)
  }
}
