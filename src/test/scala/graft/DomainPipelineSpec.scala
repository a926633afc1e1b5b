package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalogs.DomainCatalogs
import graft.embed.{Embedder, HashEncoder}
import graft.ingest.{Ingest, Layout}
import graft.multimodal.Multimodal
import graft.quality.Quality
import graft.segment.{Beats, Sections, Spans}
import graft.snapshot.Snapshot
import graft.streaming.StreamingIngest

/** End-to-end pipeline: jsonl → normalize → spans → embeddings → beats →
  * sections → catalogs → quality → snapshot (mirrors
  * tests/integration/test_pipeline.py:21-197 + snapshot workflow). */
class DomainPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkEpisode(ep: String, n: Int, speakers: Seq[String]): Seq[String] =
    (0 until n).map { i =>
      val spk = speakers(i / 10 % speakers.length) // speaker turns every 10 utts
      val s = i * 12.0
      s"""{"episode_id":"$ep","start":$s,"end":${s + 11.75},"speaker":"$spk","text":"utterance $i of $ep with words"}"""
    }

  private lazy val lakeDir: String = {
    val in = Files.createTempDirectory("graft_e2e_in")
    Files.write(in.resolve("Show - #1 - 2024-03-01 - Pilot.jsonl"),
      String.join("\n", mkEpisode("Show - #1 - 2024-03-01 - Pilot", 120, Seq("Alice", "Bob")): _*).getBytes)
    Files.write(in.resolve("ep2.jsonl"),
      String.join("\n", mkEpisode("EP2", 80, Seq("Carol", "Dan", "Erin")): _*).getBytes)
    val lake = Files.createTempDirectory("graft_e2e_lake").toString
    val (norm, errors) = Ingest.ingestDirectory(spark, in.toString)
    Ingest.writeNormalized(norm, s"$lake/normalized")
    assert(errors.count() == 0)
    lake
  }

  test("ingest produced both episodes with correct counts") {
    val norm = spark.read.parquet(s"$lakeDir/normalized")
    assert(norm.count() == 200)
    assert(norm.select("episode_id").distinct().count() == 2)
    val durations = norm.select("duration").distinct().as[Double].collect()
    assert(durations.toSeq == Seq(11.75))
  }

  test("spans → beats → sections: hierarchy holds, ids valid, parents complete") {
    val norm = spark.read.parquet(s"$lakeDir/normalized")
    val spans = Spans.enrichWithRoles(Spans.generate(norm),
      Map("Alice" -> graft.core.SpeakerRole("Alice", "expert", isExpert = true)))
    spans.write.mode("overwrite").parquet(s"$lakeDir/spans")
    // speaker turns every 10 utts with 1s gaps between utts → spans break
    // on speaker change only: 120/10 + 80/10 = 20 spans
    assert(spans.count() == 20)

    val beats = Beats.generateFromDf(spark.read.parquet(s"$lakeDir/spans"),
      cfg = Beats.Config(useEmbeddings = false))
    beats.toDF.write.mode("overwrite").parquet(s"$lakeDir/beats")
    val beatsR = spark.read.parquet(s"$lakeDir/beats")
    // every span in exactly one beat
    val spanIds = spans.select("span_id").as[String].collect().toSet
    val assigned = beatsR.select(explode(col("span_ids"))).as[String].collect()
    assert(assigned.toSet == spanIds && assigned.length == spanIds.size)
    // expert coverage present where Alice speaks
    assert(beatsR.filter(col("expert_coverage_pct") > 0).count() > 0)

    val sections = Sections.generateFromDf(beatsR,
      cfg = Sections.Config(preferTimeBoundaries = true))
    sections.toDF.write.mode("overwrite").parquet(s"$lakeDir/sections")
    val secR = spark.read.parquet(s"$lakeDir/sections")
    val beatIds = beatsR.select("beat_id").as[String].collect().toSet
    val inSections = secR.select(explode(col("beat_ids"))).as[String].collect()
    assert(inSections.toSet == beatIds && inSections.length == beatIds.size)
  }

  test("embedding generation: one vector per span, unit norm, stored with metadata") {
    val spansR = spark.read.parquet(s"$lakeDir/spans")
    val emb = Embedder.embed(spansR, "span_id", "text", "span", HashEncoder(dim = 32))
    Embedder.store(emb, s"$lakeDir/span_embeddings")
    val stored = spark.read.parquet(s"$lakeDir/span_embeddings/embeddings.parquet")
    assert(stored.count() == spansR.count())
    val norms = stored.select(
      sqrt(aggregate(transform(col("embedding"), x => x * x),
        lit(0.0d), (a, x) => a + x)).as("n")).as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-4))
    assert(new java.io.File(s"$lakeDir/span_embeddings/metadata.json").exists())
  }

  test("catalogs: episode title/date parsing and speaker rollup (A1/A2/C9)") {
    val norm = spark.read.parquet(s"$lakeDir/normalized")
    val epCat = DomainCatalogs.episodeCatalog(norm).collect()
    val pilot = epCat.find(_.getAs[String]("episode_id").contains("Pilot")).get
    assert(pilot.getAs[String]("title") == "Pilot")
    assert(pilot.getAs[String]("date") == "2024-03-01")
    assert(pilot.getAs[Long]("utterance_count") == 120)
    assert(pilot.getAs[String]("speaker_list") == "Alice, Bob")
    val ep2 = epCat.find(_.getAs[String]("episode_id") == "EP2").get
    assert(ep2.getAs[String]("date") == null)
    assert(ep2.getAs[String]("title") == "EP2")

    val spkCat = DomainCatalogs.speakerCatalog(norm)
    assert(spkCat.count() == 5)
    val alice = spkCat.filter(col("speaker") === "Alice").collect().head
    assert(alice.getAs[Long]("episode_count") == 1)
    val top = DomainCatalogs.topSpeakers(spkCat, "total_utterances", 3)
    assert(top.count() == 3)
  }

  test("quality assessment yields metrics, violations and a RAG status") {
    val norm = spark.read.parquet(s"$lakeDir/normalized")
    val episodes = norm.groupBy("episode_id")
      .agg((max(col("end")) - min(col("start"))).as("episode_duration"))
    val a = Quality.assess(
      spark.read.parquet(s"$lakeDir/spans"),
      spark.read.parquet(s"$lakeDir/beats"), episodes, Quality.Thresholds(),
      Some(spark.read.parquet(s"$lakeDir/span_embeddings/embeddings.parquet")))
    assert(Set("RED", "AMBER", "GREEN").contains(a.ragStatus))
    assert(a.metrics.contains("coverage_pct"))
    assert(a.metrics("coverage_pct") > 90.0) // continuous speech, small gaps
    assert(a.metrics("span_regressions") == 0.0)
    // full threshold table wired: gap/overlap, near-dups, embedding sanity
    assert(a.metrics.contains("gap_pct") && a.metrics.contains("overlap_pct"))
    assert(a.metrics.contains("near_dup_pct"))
    assert(a.metrics.contains("same_speaker_pct"))
    assert(a.metrics.contains("adjacency_bias_pct"))
    val md = Quality.renderMarkdown(a)
    assert(md.contains("Status") && md.contains("coverage_pct"))
  }

  test("quality catches planted defects (regressions, duplicates)") {
    val bad = Seq(
      ("s1", "E", "A", 0.0, 10.0, 10.0, "dup text here padded out"),
      ("s2", "E", "A", 5.0, 15.0, 10.0, "dup text here padded out"), // regression + dup
      ("s3", "E", "A", 20.0, 19.0, -1.0, "negative duration row"))
      .toDF("span_id", "episode_id", "speaker", "start_time", "end_time", "duration", "text")
    val episodes = Seq(("E", 20.0)).toDF("episode_id", "episode_duration")
    val a = Quality.assess(bad, bad.withColumnRenamed("span_id", "beat_id"), episodes)
    assert(a.ragStatus == "RED")
    assert(a.metrics("span_regressions") >= 1.0)
    assert(a.metrics("nonpositive_durations") == 1.0)
    assert(a.violations.exists(_.name == "exact_duplicate_pct"))
  }

  test("embedding store/load round-trip with parsed metadata sidecar (S12)") {
    val (df, meta) = Embedder.load(spark, s"$lakeDir/span_embeddings")
    assert(df.count() == spark.read.parquet(s"$lakeDir/spans").count())
    assert(meta.nonEmpty)
    assert(meta.head.artifactType == "span")
    assert(meta.head.modelName == "graft-hash-encoder")
    assert(meta.head.dim == 32)
    assert(meta.head.count == df.count())
    // artifact-type filter prunes
    val (spanOnly, _) = Embedder.load(spark, s"$lakeDir/span_embeddings", Some("span"))
    assert(spanOnly.count() == df.count())
    val (none, _) = Embedder.load(spark, s"$lakeDir/span_embeddings", Some("beat"))
    assert(none.count() == 0)
  }

  test("metadata sidecar parse is structural: reordered keys still load") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar").toString
    spark.read.parquet(s"$lakeDir/span_embeddings/embeddings.parquet")
      .write.parquet(s"$dir/embeddings.parquet")
    // keys deliberately in a different order than Embedder.store writes
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "metadata.json"),
      """[{"dim": 32, "count": 7, "model_version": null,
        |  "artifact_type": "span", "model_name": "reordered-writer"}]""".stripMargin)
    val (_, meta) = Embedder.load(spark, dir)
    assert(meta.length == 1)
    assert(meta.head.modelName == "reordered-writer")
    assert(meta.head.modelVersion.isEmpty)
    assert(meta.head.dim == 32 && meta.head.count == 7)
  }

  test("catalog save + load-latest round-trip (S14)") {
    val norm = spark.read.parquet(s"$lakeDir/normalized")
    val dir = s"$lakeDir/catalogs"
    Layout.writeVersioned(DomainCatalogs.episodeCatalog(norm).limit(1), dir, "episodes")
    Layout.writeVersioned(DomainCatalogs.episodeCatalog(norm), dir, "episodes")
    val latest = DomainCatalogs.loadLatestCatalog(spark, dir, "episodes")
    assert(latest.count() == 2) // the newer, full catalog
    intercept[IllegalArgumentException] {
      DomainCatalogs.loadLatestCatalog(spark, dir, "speakers")
    }
  }

  test("a failed catalog write leaves the previous catalog the latest (S14)") {
    val norm = spark.read.parquet(s"$lakeDir/normalized")
    val dir = Files.createTempDirectory("graft_catalog_fail").toString
    Layout.writeVersioned(DomainCatalogs.episodeCatalog(norm), dir, "episodes")
    intercept[Exception] {
      Layout.writeVersioned(DomainCatalogs.episodeCatalog(norm)
        .withColumn("title", raise_error(lit("catalog writer failed"))), dir, "episodes")
    }
    val latest = DomainCatalogs.loadLatestCatalog(spark, dir, "episodes")
    assert(latest.count() == 2 && latest.filter($"title" === "Pilot").count() == 1)
  }

  test("snapshot: checksums, semver bump, validation detects tampering") {
    val snapDir = Files.createTempDirectory("graft_snap").toString
    val m = Snapshot.create(spark, s"$lakeDir/spans", snapDir, "v1.0.0", "2026-08-12T00:00:00Z")
    assert(m.files.nonEmpty && m.files.forall(_.sha256.length == 64))
    assert(Snapshot.validate(spark, s"$snapDir/v1.0.0", m).isEmpty)
    // tamper with one file through the filesystem API (keeps Hadoop's
    // .crc sidecar consistent; our sha256 must still catch it)
    val victimPath = new org.apache.hadoop.fs.Path(m.files.head.path)
    val fs = victimPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(victimPath, true)
    out.write("tampered".getBytes); out.close()
    assert(Snapshot.validate(spark, s"$snapDir/v1.0.0", m).nonEmpty)
    assert(Snapshot.bumpSemver("v1.2.3") == "v1.2.4")
    assert(Snapshot.bumpSemver("v1.2.3", "minor") == "v1.3.0")
    assert(Snapshot.bumpSemver("garbage") == "v0.1.0")
  }

  test("streaming ingest (AvailableNow) is incremental across restarts (N1)") {
    val in = Files.createTempDirectory("graft_stream_in")
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    Files.write(in.resolve("a.jsonl"),
      mkEpisode("S1", 5, Seq("A")).mkString("\n").getBytes)
    StreamingIngest.runAvailableNow(spark, in.toString, out, ckpt)
    assert(spark.read.parquet(out).count() == 5)
    // add a second file; rerun picks up ONLY the new file
    Files.write(in.resolve("b.jsonl"),
      mkEpisode("S2", 7, Seq("B")).mkString("\n").getBytes)
    StreamingIngest.runAvailableNow(spark, in.toString, out, ckpt)
    val all = spark.read.parquet(out)
    assert(all.count() == 12)
    assert(all.filter(col("episode_id") === "S2").count() == 7)
  }

  test("multimodal plumbing: stub features are deterministic; frame sampling shapes") {
    val media = Seq(
      ("img1", "image", Array[Byte](1, 2, 3), Some(100), Some(80), None: Option[Double], Some("image/png")),
      ("vid1", "video", Array[Byte](9, 9), None, None, Some(2.0), Some("video/mp4")))
      .toDF("asset_id", "media_type", "content", "width", "height", "duration_s", "mime")
    val f1 = Multimodal.extractFeatures(media, dim = 16).collect()
    val f2 = Multimodal.extractFeatures(media, dim = 16).collect()
    assert(f1.map(_.feature).toSeq == f2.map(_.feature).toSeq) // deterministic
    assert(f1.forall(_.feature.length == 16))
    val frames = Multimodal.sampleFrames(media, fps = 2.0)
    assert(frames.count() == 4) // 2.0s * 2fps
    assert(frames.columns.toSeq ==
      Seq("asset_id", "frame_idx", "frame_ts_s", "content"))
  }

  test("multimodal: perceptual-hash near-dup finds the duplicated image only") {
    // identical payloads → identical features → identical dHash
    val dup = Array[Byte](5, 6, 7, 8)
    val media = Seq(
      ("imgA", "image", dup, Some(10), Some(10), None: Option[Double], Some("image/png")),
      ("imgB", "image", dup, Some(10), Some(10), None: Option[Double], Some("image/png")),
      ("imgC", "image", Array[Byte](99, 98, 97), Some(10), Some(10), None: Option[Double], Some("image/png")),
      ("audX", "audio", dup, None, None, Some(1.0), Some("audio/wav")))
      .toDF("asset_id", "media_type", "content", "width", "height", "duration_s", "mime")
    val feats = Multimodal.extractFeatures(media, dim = 64)
    val pairs = Multimodal.nearDupMedia(feats, maxDist = 2)
      .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    // audX shares imgA's payload but is blocked by media_type
    assert(pairs == Set(("imgA", "imgB")))
  }

  test("q111 media pipeline is checksum-backed: golden per-type counts + phash_xor at sf0.01") {
    // The ONLY SparkEntry.queries entry without a DuckDB oracle (the
    // decode is JVM-side by design), so the driver records a rows-only
    // check. The pipeline is deterministic end to end, so this pins the
    // FULL sf0.01 output — counts and the order-free bit_xor of the
    // perceptual hashes — as golden values over the same fixture the
    // driver runs: a content gate equivalent to the oracle hash check.
    val got = graft.queries.CurationQueries.mediaPipelineQuery(spark, "/root/testdata/sf0.01")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toList
    val golden = List(
      ("audio", 167L, 167L, 0L, 2519956421962649656L),
      ("image", 167L, 167L, 0L, 3477035295979449007L),
      ("video", 166L, 166L, 0L, 6080151846363310030L))
    assert(got == golden, s"sf0.01 media audit drifted:\n  got    $got\n  golden $golden")
  }

  test("multimodal: custom decoder plugs in; audio windows cover the duration") {
    val media = Seq(
      ("aud1", "audio", Array[Byte](1, 2), None: Option[Int], None: Option[Int],
        Some(3.5), Some("audio/wav")))
      .toDF("asset_id", "media_type", "content", "width", "height", "duration_s", "mime")
    // constant custom decoder proves the trait is honored end to end
    val ones = new Multimodal.MediaDecoder {
      def name = "const-v1"
      def decodeBatch(batch: Seq[(String, Array[Byte])], dim: Int): Seq[Array[Float]] =
        batch.map(_ => Array.fill(dim)(1.0f))
    }
    val f = Multimodal.extractFeatures(media, dim = 4, decoder = ones).collect()
    assert(f.head.decoder == "const-v1" && f.head.feature == Seq(1.0f, 1.0f, 1.0f, 1.0f))
    // 3.5s audio, 1s windows, 0.5s hop → windows start at 0.0 .. 2.5
    val w = Multimodal.audioWindows(media, windowLenS = 1.0, hopS = 0.5)
    assert(w.count() == 6)
    val last = w.orderBy(col("window_idx").desc).first()
    assert(last.getAs[Double]("window_end_s") <= 3.5 + 1e-9)
    // audio shorter than one window (or missing duration) yields nothing
    val short = Seq(
      ("aud2", "audio", Array[Byte](3), None: Option[Int], None: Option[Int],
        Some(0.3), Some("audio/wav")),
      ("aud3", "audio", Array[Byte](4), None: Option[Int], None: Option[Int],
        None: Option[Double], Some("audio/wav")))
      .toDF("asset_id", "media_type", "content", "width", "height", "duration_s", "mime")
    assert(Multimodal.audioWindows(short, windowLenS = 1.0, hopS = 0.5).count() == 0)
  }

  test("multimodal resize: image-only, target dims in metadata, custom transformer") {
    val media = Seq(
      ("img1", "image", Array[Byte](1, 2, 3), Some(100), Some(80), None: Option[Double], Some("image/png")),
      ("aud1", "audio", Array[Byte](9), None: Option[Int], None: Option[Int], Some(1.0), Some("audio/wav")))
      .toDF("asset_id", "media_type", "content", "width", "height", "duration_s", "mime")
    val out = Multimodal.resizeImages(media, width = 32, height = 24).collect()
    assert(out.map(_.asset_id).toSeq == Seq("img1")) // audio untouched
    assert(out.head.width == 32 && out.head.height == 24)
    assert(out.head.content.toSeq == Seq[Byte](1, 2, 3)) // stub passthrough
    // a custom transformer sees the batch and can rewrite payloads
    val blanker = new Multimodal.MediaTransformer {
      def name = "blank-v1"
      def transformBatch(batch: Seq[(String, Array[Byte])], w: Int, h: Int) =
        batch.map(_ => Array[Byte](0))
    }
    val blanked = Multimodal.resizeImages(media, 8, 8, transformer = blanker).collect()
    assert(blanked.head.transformer == "blank-v1" && blanked.head.content.toSeq == Seq[Byte](0))
  }
}
