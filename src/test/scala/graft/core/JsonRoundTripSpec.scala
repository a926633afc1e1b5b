package graft.core

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.embed.Embedder
import graft.quality.Quality.{Assessment, Violation}
import graft.quality.Reporter
import graft.snapshot.Snapshot

/** Every JSON file the engine writes reads back, with an independent
  * Jackson mapper, to the strings that went in — including the
  * characters a hand-rolled escaper gets wrong. */
class JsonRoundTripSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val nasty = "q\"uote \\back\nline\ttab é \u2028 end"

  /** (file, writes it under a fresh dir and returns its path,
    * JSON pointer → expected text of the node there). */
  private val rows: Seq[(String, Path => Path, Seq[(String, String)])] = Seq(
    ("embeddings sidecar", { dir =>
      import spark.implicits._
      val emb = Seq(("a1", nasty, Seq(0.6f, 0.8f), nasty, nasty))
        .toDF("artifact_id", "artifact_type", "embedding", "model_name", "model_version")
      Embedder.store(emb, dir.toString)
      assert(Embedder.load(spark, dir.toString)._2 ==
        Seq(Embedder.StoreMeta(nasty, nasty, Some(nasty), 1L, 2)))
      dir.resolve("metadata.json")
    }, Seq("/0/artifact_type" -> nasty, "/0/model_name" -> nasty,
      "/0/model_version" -> nasty, "/0/count" -> "1", "/0/dim" -> "2")),

    ("snapshot manifest", { dir =>
      val m = Snapshot.Manifest(nasty, nasty,
        Seq(Snapshot.FileEntry(nasty, 7L, "ab12", Some(3L))),
        Snapshot.QaStatus(nasty, nasty, Map(nasty -> 1.5)))
      Files.writeString(dir.resolve("manifest.json"), Snapshot.renderManifestJson(m))
    }, Seq("/version" -> nasty, "/created_utc" -> nasty, "/qa_status/state" -> nasty,
      "/qa_status/summary" -> nasty, s"/qa_status/invariants/$nasty" -> "1.5",
      "/files/0/path" -> nasty, "/files/0/rows" -> "3")),

    ("quality metrics", { dir =>
      val a = Assessment(Map(nasty -> 1.5), Seq(Violation(nasty, nasty, nasty, "error")), "RED")
      Reporter.writeAll(a, Reporter.DatasetCounts(1, 2, 3, embeddingsAvailable = false),
        nasty, dir.toString)
      dir.resolve("global_metrics.json")
    }, Seq("/metadata/assessment_timestamp" -> nasty, s"/metrics/$nasty" -> "1.5",
      "/violations/violations_list/0/threshold_name" -> nasty,
      "/violations/violations_list/0/expected" -> nasty,
      "/violations/violations_list/0/actual" -> nasty)),

    ("oracle-SQL dump", { dir =>
      val f = dir.resolve("oracle_sql.json")
      graft.Verify.dumpSql(f.toString, Map(nasty -> nasty, "q01" -> "SELECT 1"))
      f
    }, Seq(s"/$nasty" -> nasty, "/q01" -> "SELECT 1")))

  rows.foreach { case (name, write, expected) =>
    test(s"$name round-trips quotes, backslashes, control chars and non-ASCII") {
      val file = write(Files.createTempDirectory("graft_json_rt"))
      val tree = new ObjectMapper().readTree(Files.readString(file))
      expected.foreach { case (pointer, text) =>
        assert(tree.at(pointer).asText == text, s"at $pointer in ${Files.readString(file)}")
      }
    }
  }
}
