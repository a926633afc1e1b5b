package graft.cli

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ingest.Ingest

/** The `materialize --encoder-cmd` provider chain, end to end: a stub
  * external encoder process (the [[graft.embed.ProcessEncoder]] line
  * protocol) embeds the spans/beats, and a broken command falls back to
  * the hash encoder instead of failing the pipeline — the reference's
  * provider-chain behavior (embeddings/models.py:87-348).
  */
class EncoderCliSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkLake(): String = {
    val in = Files.createTempDirectory("graft_cli_in")
    val lines = (0 until 60).map { i =>
      val spk = if (i / 10 % 2 == 0) "Alice" else "Bob"
      val s = i * 12.0
      s"""{"episode_id":"CLI-EP","start":$s,"end":${s + 11.5},"speaker":"$spk","text":"utterance $i with words"}"""
    }
    Files.write(in.resolve("cli-ep.jsonl"), String.join("\n", lines: _*).getBytes)
    val lake = Files.createTempDirectory("graft_cli_lake").toString
    val (norm, errors) = Ingest.ingestDirectory(spark, in.toString)
    Ingest.writeNormalized(norm, s"$lake/normalized")
    assert(errors.count() == 0)
    lake
  }

  private def stubEncoderScript(dim: Int): Path = {
    val sh = Files.createTempFile("graft_stub_encoder", ".sh")
    // one JSON float array per input line: a fixed unit-ish vector whose
    // first component varies with the line count, so vectors are valid
    // and not all identical
    val vec = (i: String) => (1 to dim).map(j => s"0.$j").mkString("[", ",", s",$i]")
    Files.write(sh, s"""#!/bin/sh
      |n=0
      |while IFS= read -r line; do
      |  n=$$((n+1))
      |  echo "${vec("0.0$n")}"
      |done
      |""".stripMargin.getBytes)
    sh.toFile.setExecutable(true)
    sh
  }

  test("materialize runs with a stub external encoder") {
    val lake = mkLake()
    val dim = 7 // script emits 8 components: 7 fixed + 1 varying
    val sh = stubEncoderScript(dim)
    Main.run(spark, Array("materialize", lake, "--encoder-cmd", sh.toString,
      "--encoder-dim", (dim + 1).toString))
    val emb = spark.read.parquet(s"$lake/span_embeddings/embeddings.parquet")
    assert(emb.count() > 0)
    import org.apache.spark.sql.functions._
    val dims = emb.select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(dim + 1), s"stub encoder dims: $dims")
    // the stub's signature value 0.1 appears in component 0 of every vector
    val first = emb.select(element_at(col("embedding"), 1)).distinct().collect()
      .map(_.getFloat(0)).toSeq
    assert(first == Seq(0.1f), s"expected the stub's fixed first component, got $first")
  }

  test("a failing encoder command falls back to the hash encoder") {
    val lake = mkLake()
    Main.run(spark, Array("materialize", lake, "--encoder-cmd", "/bin/false",
      "--encoder-dim", "16"))
    val emb = spark.read.parquet(s"$lake/span_embeddings/embeddings.parquet")
    assert(emb.count() > 0)
    import org.apache.spark.sql.functions._
    val dims = emb.select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(16), s"fallback HashEncoder(16) dims: $dims")
  }

  test("the external encoder sees each span and beat text once") {
    val lake = mkLake()
    val seen = Files.createTempFile("graft_encoder_seen", ".txt")
    val sh = Files.createTempFile("graft_counting_encoder", ".sh")
    // one line appended to `seen` per text received, one vector answered
    Files.write(sh, s"""#!/bin/sh
      |while IFS= read -r line; do
      |  echo x >> '$seen'
      |  echo "[0.5,0.5,0.5,0.5]"
      |done
      |""".stripMargin.getBytes)
    sh.toFile.setExecutable(true)
    Main.run(spark, Array("materialize", lake, "--encoder-cmd", sh.toString,
      "--encoder-dim", "4"))
    val spans = spark.read.parquet(s"$lake/spans").count()
    val beats = spark.read.parquet(s"$lake/beats").count()
    val encoded = Files.readAllLines(seen).size
    // + 1: the selection probe encodes one text
    assert(encoded == spans + beats + 1,
      s"encoder saw $encoded texts for $spans spans + $beats beats + 1 probe")
  }
}
