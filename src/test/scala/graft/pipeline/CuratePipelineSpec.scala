package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ingest.Layout
import graft.operators.TextAnalysis

/** The composed curate-apply run end to end on the sf0.001 fixture:
  * per-stage accounting pinned to golden values (independently
  * oracle-replayed by q122's DuckDB SQL), every stage a committed Layout
  * version whose row count matches its accounting row, and the
  * stage-local keep invariants re-checked against the materialized
  * parquet. */
class CuratePipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val lake = {
    val dir = Files.createTempDirectory("graft_curate_apply").toString
    graft.cli.Main.run(spark,
      Array("curate-apply", "/root/testdata/sf0.001/documents.parquet", dir))
    dir
  }

  // golden accounting at sf0.001 (also hash-proven vs the q122 DuckDB
  // oracle at sf0.001 and sf0.01): stage -> (n_docs, n_tokens, id_sum)
  private val Golden = Seq(
    ("raw", 500L, 27939L, 124750L),
    ("exact", 500L, 27939L, 124750L),
    ("neardup", 476L, 26504L, 118620L),
    ("quality", 371L, 22729L, 92328L),
    ("decontam", 351L, 21396L, 87630L),
    ("curriculum", 196L, 13792L, 49003L),
    ("mixture", 252L, 17654L, 62620L),
    ("shards", 252L, 17654L, 533945L))

  test("accounting matches the pinned per-stage golden values") {
    val acc = Layout.loadLatest(spark, lake, "curated/accounting")
      .orderBy("stage_idx")
      .select("stage", "n_docs", "n_tokens", "id_sum")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(acc.toSeq == Golden)
  }

  test("every stage is a committed Layout version matching its accounting row") {
    Golden.drop(1).foreach { case (stage, nDocs, _, _) =>
      val df = Layout.loadLatest(spark, lake, s"curated/$stage")
      assert(df.count() == nDocs, s"stage $stage row count")
    }
  }

  test("stage invariants hold on the materialized parquet") {
    val quality = Layout.loadLatest(spark, lake, "curated/quality")
    assert(quality.filter(!TextAnalysis.gopherRulePass(col("text"),
      minWords = 5, minStopHits = 1)).count() == 0,
      "a quality survivor fails the Gopher gate")

    val decontam = Layout.loadLatest(spark, lake, "curated/decontam")
    assert(decontam.filter(pmod(col("doc_id"), lit(20)) === 0).count() == 0,
      "a benchmark doc survived decontamination")

    val mixture = Layout.loadLatest(spark, lake, "curated/mixture")
    assert(mixture.groupBy("doc_id", "copy").count()
      .filter(col("count") > 1).count() == 0, "(doc_id, copy) not unique")
    assert(mixture.filter(col("copy") < 1 || col("copy") > 2).count() == 0,
      "copy outside 1..ceil(maxEpochs)")

    // shards: partition routing matches the q110 Knuth device over
    // (doc_id, copy), and every shard id is in range
    val shards = Layout.loadLatest(spark, lake, "curated/shards")
    val expected = pmod(pmod(pmod(col("doc_id") * 37 + col("copy"),
      lit(2147483648L)) * 2654435761L, lit(4294967296L)), lit(16L)).cast("int")
    assert(shards.filter(col("shard") =!= expected).count() == 0,
      "shard routing mismatch")
    assert(shards.filter(col("shard") < 0 || col("shard") >= 16).count() == 0)
    // copies of one doc spread: at least one upsampled doc lands its two
    // copies in two different shards (the anti-stacking property)
    val spread = shards.groupBy("doc_id")
      .agg(countDistinct("shard").as("ns"), count(lit(1)).as("n"))
      .filter(col("n") === 2 && col("ns") === 2).count()
    assert(spread > 0, "no upsampled doc spread across shards")
  }

  test("shared-signature frozen index equals the recomputed survivor index (r16)") {
    // r16: run()/frozenFromStages bank the near-dup stage's materialized
    // signature frame filtered by survivor id instead of re-running the
    // shingle+minhash pass — pin the equivalence `sigs ⋉ survivors ≡
    // nearDupIndex(survivors)` on the materialized lake
    val neardup = Layout.loadLatest(spark, lake, "curated/neardup")
    val banked = Layout.loadLatest(spark, lake,
      CuratePipeline.Frozen.NearDupIndex).drop("batch")
    val recomputed = graft.operators.Dedup.nearDupIndex(
      neardup, "doc_id", col("text"), shingleWords = 2, k = 12)
    assert(banked.exceptAll(recomputed).count() == 0 &&
      recomputed.exceptAll(banked).count() == 0,
      "banked shared-signature index differs from the recomputed survivor index")
  }

  test("curriculum survivors all satisfy the decile hash keep rule") {
    // the keep rule is relative to the decontam frame's deciles — recompute
    val dec = Layout.loadLatest(spark, lake, "curated/decontam")
    val kept = graft.operators.Corpus.applyCurriculum(dec)
      .select("doc_id")
    val stored = Layout.loadLatest(spark, lake, "curated/curriculum")
      .select("doc_id")
    assert(stored.exceptAll(kept).count() == 0 && kept.exceptAll(stored).count() == 0,
      "curriculum stage differs from the apply-form recompute")
  }

  test("a stage that keeps zero documents commits an empty layer and the run completes") {
    // a Gopher floor no document reaches: quality and every later stage
    // keep nothing, and their read-backs must not need schema inference
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_curate_empty").toString
    val docs = (0L until 40L).map { i =>
      val text = s"episode $i covers topic ${i * 7919 % 101} with guest ${i * 31 % 97}"
      (i, text, "en", s"source${i % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val acc = CuratePipeline.run(spark, docs, dir,
      CurateConfig(gopherMinWords = 1000000, gopherMaxWords = 2000000))
      .select("stage", "n_docs").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(acc("exact") == 40L && acc("neardup") > 0L)
    Seq("quality", "decontam", "curriculum", "mixture", "shards").foreach { stage =>
      assert(acc(stage) == 0L, s"stage $stage")
      assert(Layout.committedVersions(spark, dir, s"curated/$stage").nonEmpty)
    }
  }
}
