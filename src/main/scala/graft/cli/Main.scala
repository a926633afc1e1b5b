package graft.cli

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.catalogs.DomainCatalogs
import graft.embed.{Embedder, HashEncoder}
import graft.ingest.Ingest
import graft.quality.{Guardrails, Quality, Reporter}
import graft.segment.{Beats, Sections, Spans}
import graft.snapshot.Snapshot

/** Thin command front-end mirroring the reference CLI surface
  * (reference: src/lakehouse/cli/__init__.py:41 — ingest / materialize /
  * validate / catalog / quality / snapshot). */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val spark = GraftSession.create()
    try run(spark, args)
    catch {
      case e: UsageError => System.err.println(e.getMessage); usage(); sys.exit(2)
      case e: ValidationFailed => System.err.println(e.getMessage); sys.exit(1)
    }
    finally spark.stop()
  }

  /** Command dispatch on a caller-owned session — `main` wraps this with
    * session lifecycle; integration tests drive it on the shared test
    * session (stopping that from inside `main` would kill every suite
    * after it). */
  def run(spark: org.apache.spark.sql.SparkSession, args: Array[String]): Unit = {
    args(0) match {
      case "ingest" =>
        val Array(in, out) = positional(args, 2)
        val (norm, errors) = Ingest.ingestDirectory(spark, in)
        val ingested = Observation()
        Ingest.writeNormalized(norm.observe(ingested, count(lit(1)).as("n")), s"$out/normalized")
        errors.write.mode("overwrite").parquet(s"$out/errors")
        // S16: archive raw sources under {lake}/raw, named by episode stem
        val rawFiles = Option(new java.io.File(in).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".jsonl"))
          .map(f => (f.getPath, f.getName.stripSuffix(".jsonl")))
        val archived = graft.ingest.Layout.archiveRaw(spark, rawFiles.toSeq, out)
        println(s"ingested: ${ingested.get("n")} utterances; " +
          s"archived ${archived.length} raw files")

      case "materialize" =>
        val Array(base) = positional(args, 1)
        val encoder = chooseEncoder(args.drop(2))
        val utts = spark.read.parquet(s"$base/normalized")
        // Each layer is generated once, by its write; later steps read the
        // written layer back under the schema they wrote (no inference
        // job), and every printed count is observed on a write.
        def readBack(path: String, like: DataFrame) = spark.read.schema(like.schema).parquet(path)
        // F5 duration guardrail between steps (drop + log top offenders)
        val guard = Guardrails(Spans.enrichWithRoles(Spans.generate(utts), Map.empty),
          "span_id", Guardrails.SpanMaxDuration)
        val (nSpans, offenders) = guard.writeKept(s"$base/spans")
        if (offenders.nonEmpty)
          System.err.println(s"[guardrail] dropped spans: ${offenders.mkString(", ")}")
        val spansR = readBack(s"$base/spans", guard.kept)
        val spanEmb = Embedder.embed(spansR, "span_id", "text", "span", encoder)
        Embedder.store(spanEmb, s"$base/span_embeddings")
        val beats = Beats.generateFromDf(spansR,
          Some(readBack(s"$base/span_embeddings/embeddings.parquet", spanEmb))).toDF()
        val nBeats = writeCounted(beats, s"$base/beats")
        val beatsR = readBack(s"$base/beats", beats)
        val beatEmb = Embedder.embed(beatsR, "beat_id", "text", "beat", encoder)
        Embedder.store(beatEmb, s"$base/beat_embeddings")
        val sections = Sections.generateFromDf(beatsR,
          Some(readBack(s"$base/beat_embeddings/embeddings.parquet", beatEmb))).toDF()
        val nSections = writeCounted(sections, s"$base/sections")
        println(s"materialized: $nSpans spans, $nBeats beats, $nSections sections")

      case "catalog" =>
        val Array(base) = positional(args, 1)
        val utts = spark.read.parquet(s"$base/normalized")
        val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
          .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
        val p1 = DomainCatalogs.saveCatalog(
          DomainCatalogs.episodeCatalog(utts), s"$base/catalogs", "episodes", ts)
        val p2 = DomainCatalogs.saveCatalog(
          DomainCatalogs.speakerCatalog(utts), s"$base/catalogs", "speakers", ts)
        println(s"catalogs written: $p1, $p2")

      case "quality" =>
        val Array(base) = positional(args, 1)
        val thresholds = if (args.length > 2) Quality.loadThresholds(args(2))
                         else Quality.Thresholds()
        val utts = spark.read.parquet(s"$base/normalized")
        val episodes = utts.groupBy("episode_id")
          .agg((max(col("end")) - min(col("start"))).as("episode_duration"))
        val embPath = s"$base/span_embeddings/embeddings.parquet"
        val emb = if (new java.io.File(embPath).exists) Some(spark.read.parquet(embPath)) else None
        val spans = spark.read.parquet(s"$base/spans")
        val beats = spark.read.parquet(s"$base/beats")
        val a = Quality.assess(spans, beats, episodes, thresholds, emb)
        // the report's counts, histograms and per-episode rows come from
        // the assessment's own passes
        val d = a.detail.get
        val written = Reporter.writeAll(
          a, Reporter.DatasetCounts(d.episodes, d.spans, d.beats, emb.isDefined),
          java.time.Instant.now().toString, s"$base/quality_reports",
          spanHist = Some(d.spanHistogram), beatHist = Some(d.beatHistogram),
          episodeRows = Some(d.episodeCoverage))
        println(Quality.renderMarkdown(a))
        println(s"reports: ${written.mkString(", ")}")

      case "validate" =>
        val Array(base) = positional(args, 1)
        import graft.validation.Validation
        import graft.core.Schemas
        def maybe(p: String) =
          if (new java.io.File(p).exists) Some(spark.read.parquet(p)) else None
        val tables = Seq(
          "utterances" -> s"$base/normalized",
          "spans" -> s"$base/spans",
          "beats" -> s"$base/beats",
          "sections" -> s"$base/sections",
          "embeddings" -> s"$base/span_embeddings/embeddings.parquet")
          .flatMap { case (n, p) => maybe(p).map(n -> _) }.toMap
        val specs = Validation.lakehouseSpecs.filter(s => tables.contains(s.name))
        val schemas = Map(
          "utterances" -> Schemas.utterance, "spans" -> Schemas.span,
          "beats" -> Schemas.beat, "sections" -> Schemas.section,
          "embeddings" -> Schemas.embedding)
        // one action: the check rows are sorted and summarized here
        val rows = Validation.checks(tables, specs, schemas).collect()
          .sortBy(r => (r.getString(0), r.getString(1)))
        val failed = rows.filterNot(_.getAs[Boolean]("passed"))
        if (failed.nonEmpty) // a local frame: show starts no job
          spark.createDataFrame(failed.toSeq.asJava, Validation.CheckSchema)
            .show(200, truncate = false)
        val s = Validation.Summary.of(rows.toSeq)
        println(s"validation: ${s.passed}/${s.total} " +
          s"checks passed (errors=${s.errors}, warnings=${s.warnings})")
        if (s.errors > 0) throw new ValidationFailed(s"validation failed: ${s.errors} errors")

      case "snapshot" =>
        val Array(base, out, version) = positional(args, 3)
        val m = Snapshot.create(spark, base, out, version,
          java.time.Instant.now().toString)
        println(s"snapshot ${m.version}: ${m.files.length} files")

      case "curate" =>
        // corpus-curation report suite over a documents parquet
        // (doc_id, text, lang, source)
        val Array(docsPath, outDir) = positional(args, 2)
        val docs = spark.read.parquet(docsPath)
        import graft.operators.Corpus
        val reports = Seq(
          "decontamination" -> Corpus.decontaminationStats(docs),
          "curriculum_deciles" -> Corpus.curriculumDeciles(docs),
          "domain_mixture" -> Corpus.mixtureWeights(docs),
          "boilerplate" -> Corpus.boilerplateStats(docs),
          "tfidf_terms" -> Corpus.tfidfTopTerms(docs),
          "packing_stats" -> Corpus.packingStats(docs),
          "pack_assignments" -> Corpus.packAssignments(docs),
          "source_dup_rates" -> Corpus.sourceDupRates(docs),
          "cross_lang" -> Corpus.crossLangContent(docs),
          "type_token" -> Corpus.typeTokenRatio(docs),
          "source_novelty" -> Corpus.sourceNovelty(docs),
          "perplexity_buckets" -> Corpus.perplexityBuckets(docs),
          "importance_weights" -> Corpus.importanceWeights(docs),
          "truncation_audit" -> Corpus.truncationAudit(docs),
          "chunking_stats" -> Corpus.chunkingStats(docs),
          "weighted_sample" -> Corpus.weightedSample(docs),
          "heavy_hitters" -> graft.operators.TextAnalysis.heavyHitters(docs))
        reports.foreach { case (name, df) =>
          df.write.mode("overwrite").parquet(s"$outDir/$name")
        }
        println(s"curation reports written under $outDir: " +
          reports.map(_._1).mkString(", "))

      case "curate-apply" =>
        // the composed end-to-end curation RUN (X129): raw documents →
        // exact dedup → capped near-dup best-keep → Gopher gate →
        // benchmark decontamination → curriculum sample → UniMax
        // mixture → training shards, each stage a committed Layout
        // version under <lakeDir>/curated/<stage>, with a per-stage
        // accounting table (the q122-oracle-replayed keep chain)
        val Array(docsPath, lakeDir) = positional(args, 2)
        val docs = spark.read.parquet(docsPath)
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        // --resume: crash recovery — reuse the longest contiguous
        // committed stage prefix, recompute from the first gap
        val acc = graft.pipeline.CuratePipeline.run(spark, docs, lakeDir,
          resume = args.contains("--resume"))
        printAccounting(acc)
        println(s"curated lake written under $lakeDir/curated " +
          s"(stages: ${graft.pipeline.CuratePipeline.StageNames.drop(1).mkString(", ")})")

      case "curate-delta" =>
        // the incremental curation run (X130): curate a delta batch
        // against a curate-apply lake at delta-proportional cost —
        // frozen parameters applied, banked docs win dedup contests,
        // MERGE-appended layers (the q123-oracle-replayed keep chain)
        val Array(docsPath, lakeDir) = positional(args, 2)
        val delta = spark.read.parquet(docsPath)
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        val acc = graft.pipeline.CuratePipeline.runIncremental(spark, delta, lakeDir)
        printAccounting(acc)
        println(s"delta batch curated into $lakeDir/curated")

      // ---- lakehouse table maintenance (Layout/Merge/ZOrder) ---------

      case "lake-status" =>
        // ops surface: every layer's committed/total versions, attested
        // row count (commit-marker metadata — no data reads), merge-chain
        // depth (compaction pressure; reads cost O(depth)), and effective
        // partition-dir count
        val Array(base) = positional(args, 1)
        val layers = graft.ingest.Layout.listLayers(spark, base)
        if (layers.isEmpty) println(s"no layers under $base")
        else {
          println(f"${"layer"}%-30s ${"versions"}%-9s ${"head"}%-6s " +
            f"${"rows"}%-10s ${"chain"}%-6s partitions")
          layers.foreach { l =>
            val all = graft.ingest.Layout.versions(spark, base, l)
            val committed = graft.ingest.Layout.committedVersions(spark, base, l)
            committed.lastOption match {
              case None =>
                println(f"$l%-30s 0/${all.size}%-7s (uncommitted only)")
              case Some(v) =>
                val rows = graft.ingest.Layout.committedRowCount(spark,
                  graft.ingest.Layout.versionedDir(base, l, v))
                  .map(_.toString).getOrElse("?")
                val depth = graft.ingest.Merge.chainDepth(spark, base, l)
                val parts = graft.ingest.Merge.effectiveDirs(spark, base, l, v).size
                println(f"$l%-30s ${committed.size}/${all.size}%-7s v$v%-5s " +
                  f"$rows%-10s $depth%-6d $parts")
            }
          }
        }

      case "compact" =>
        val Array(base, layer) = positional(args, 2)
        val sortCol = if (args.length > 3) Some(args(3)) else None
        val dir = graft.ingest.Layout.compact(spark, base, layer, sortCol = sortCol)
        println(s"compacted $layer -> $dir")

      case "vacuum" =>
        val Array(base, layer) = positional(args, 2)
        val removed = graft.ingest.Layout.vacuum(spark, base, layer)
        println(s"vacuumed ${removed.length} unpublished versions" +
          (if (removed.isEmpty) "" else s": ${removed.mkString(", ")}"))

      case "rollback" =>
        val Array(base, layer, keep) = positional(args, 3)
        val undone = graft.ingest.Layout.rollbackTo(spark, base, layer, keep.toInt)
        println(s"rolled back $layer to v$keep (unpublished: " +
          s"${undone.map("v" + _).mkString(", ")})")

      case "versions" =>
        val Array(base, layer) = positional(args, 2)
        val committed = graft.ingest.Layout.committedVersions(spark, base, layer).toSet
        graft.ingest.Layout.versions(spark, base, layer).foreach { v =>
          val dir = graft.ingest.Layout.versionedDir(base, layer, v)
          val merged = graft.ingest.Merge.mergeInfo(spark, dir)
            .map(i => s" (merge base v${i.baseVersion})").getOrElse("")
          println(s"v$v ${if (committed(v)) "committed" else "UNPUBLISHED"}$merged")
        }

      case "merge" =>
        // upsert a parquet directory of updates into a layer by key;
        // --evolve permits ADDITIVE new columns (older partitions read
        // null in them — Delta's mergeSchema at partition-COW grain)
        val Array(base, layer, updatesPath, keyCol, partCol) = positional(args, 5)
        graft.ingest.Merge.merge(spark, base, layer,
          spark.read.parquet(updatesPath), Seq(keyCol), partCol,
          allowSchemaEvolution = args.contains("--evolve")) match {
          case Some(dir) => println(s"merged $updatesPath into $layer -> $dir")
          case None => println(s"$updatesPath is empty; $layer unchanged")
        }

      case "diff" =>
        val Array(base, layer, v1, v2, keyCol) = positional(args, 5)
        val d = graft.ingest.Diff.changes(spark, base, layer,
          v1.toInt, v2.toInt, Seq(keyCol))
        d.groupBy("_change").count().orderBy("_change").show()
        d.show(50, truncate = false)

      // ANN index surface (reference: scripts around faiss_builder.py —
      // build_and_save_index / search as user-facing operations)
      case "index-build" =>
        val Array(vectorsPath, indexDir) = positional(args, 2)
        val flags = args.drop(3)
        val kind = flag(flags, "--kind", "ivf")
        val nCells = flag(flags, "--cells", "64").toInt
        val idCol = flag(flags, "--id-col", "vec_id")
        val vecCol = flag(flags, "--vec-col", "embedding")
        val vecs = spark.read.parquet(vectorsPath)
        val n = kind match {
          case "ivf" =>
            graft.index.VectorIndex.build(vecs, idCol, vecCol, nCells, indexDir,
              quantized = flags.contains("--int8"))
          case "hnsw" =>
            graft.index.HnswIndex.build(vecs, idCol, vecCol, nCells, indexDir,
              m = flag(flags, "--m", "8").toInt,
              efConstruction = flag(flags, "--ef-construction", "64").toInt,
              quantized = flags.contains("--int8"),
              pqM = flag(flags, "--pq-m", "0").toInt,
              pqK = flag(flags, "--pq-k", "256").toInt)
          case other2 => throw new UsageError(s"unknown index kind: $other2 (ivf | hnsw)")
        }
        println(s"built $kind index over $n vectors at $indexDir")

      case "index-update" =>
        val Array(vectorsPath, indexDir) = positional(args, 2)
        val flags = args.drop(3)
        val idCol = flag(flags, "--id-col", "vec_id")
        val vecCol = flag(flags, "--vec-col", "embedding")
        val vecs = spark.read.parquet(vectorsPath)
        val action = flag(flags, "--kind", "ivf") match {
          case "ivf" => graft.index.VectorIndex.update(
            vecs, idCol, vecCol, flag(flags, "--cells", "64").toInt, indexDir)
          case "hnsw" => graft.index.HnswIndex.update(vecs, idCol, vecCol, indexDir)
          case other2 => throw new UsageError(s"unknown index kind: $other2 (ivf | hnsw)")
        }
        println(s"index update: $action")

      case "index-search" =>
        val Array(indexDir, queriesPath, outPath) = positional(args, 3)
        val flags = args.drop(4)
        val k = flag(flags, "--k", "10").toInt
        val nProbe = flag(flags, "--probes", "4").toInt
        val idCol = flag(flags, "--id-col", "vec_id")
        val vecCol = flag(flags, "--vec-col", "embedding")
        val queries = spark.read.parquet(queriesPath)
          .select(col(idCol).as("query_id"),
            graft.functions.VectorFunctions.vecAsDouble(col(vecCol)).as("qv"))
        val hits = flag(flags, "--kind", "ivf") match {
          case "ivf" => graft.index.VectorIndex.search(spark, indexDir, queries, k, nProbe)
          case "hnsw" => graft.index.HnswIndex.search(spark, indexDir, queries, k,
            efSearch = flag(flags, "--ef", "64").toInt, nProbe = nProbe)
          case "hnsw-pq" => graft.index.HnswIndex.searchPq(spark, indexDir, queries, k,
            efSearch = flag(flags, "--ef", "64").toInt, nProbe = nProbe,
            window = flag(flags, "--window", "50").toInt,
            residentRerank = flags.contains("--resident-rerank"))
          case other2 =>
            throw new UsageError(s"unknown index kind: $other2 (ivf | hnsw | hnsw-pq)")
        }
        println(s"wrote ${writeCounted(hits, outPath)} hit rows to $outPath")

      case other => throw new UsageError(s"unknown command: $other")
    }
  }

  /** Provider-chain encoder selection for `materialize`, mirroring the
    * reference's try-providers-in-order-then-fall-back behavior
    * (reference: src/lakehouse/embeddings/models.py:87-348): an external
    * encoder command (`--encoder-cmd`, line protocol of
    * [[graft.embed.ProcessEncoder]]) is probed ONCE at selection time
    * with a single text; if the probe fails — missing binary, wrong
    * protocol, bad dim — the chain falls back to the deterministic
    * [[HashEncoder]] and says so, instead of failing mid-pipeline on an
    * executor. */
  private[cli] def chooseEncoder(flags: Array[String]): graft.embed.TextBatchEncoder = {
    val kv = flags.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    val dim = kv.get("--encoder-dim").map(_.toInt).getOrElse(384)
    kv.get("--encoder-cmd") match {
      case None => HashEncoder(dim)
      case Some(cmd) =>
        val pe = graft.embed.ProcessEncoder(Seq("/bin/sh", "-c", cmd), dim)
        try {
          val probe = pe.encode(Seq("encoder probe"))
          require(probe.head.length == dim)
          pe
        } catch {
          case e: Exception =>
            System.err.println(
              s"[encoder] '$cmd' failed probe (${e.getMessage}); falling back to HashEncoder($dim)")
            HashEncoder(dim)
        }
    }
  }

  /** A command line `run` cannot dispatch: an unknown command or index
    * kind, or too few positional arguments. `main` prints usage and
    * exits 2. */
  private[cli] final class UsageError(msg: String) extends IllegalArgumentException(msg)

  /** `validate` found failed error-severity checks, after printing them
    * and the summary line. `main` exits 1. */
  private[cli] final class ValidationFailed(msg: String) extends RuntimeException(msg)

  /** Writes `df` as parquet at `path` and returns its row count, observed
    * on the write itself (no counting job). */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n")).write.mode("overwrite").parquet(path)
    rows.get("n").asInstanceOf[Long]
  }

  /** The `n` positional arguments after the command name; fewer is a
    * [[UsageError]] naming the command's usage line. */
  private def positional(args: Array[String], n: Int): Array[String] = {
    if (args.length <= n) throw new UsageError(
      s"${args(0)} takes $n arguments, got ${args.length - 1}; usage: ${Usage(args(0))}")
    args.slice(1, n + 1)
  }

  /** The value after `name` in `flags`, or `default` when absent. */
  private def flag(flags: Array[String], name: String, default: String): String = {
    val i = flags.indexOf(name); if (i >= 0 && i + 1 < flags.length) flags(i + 1) else default
  }

  /** The per-stage accounting table of a curation run, one line a stage. */
  private def printAccounting(acc: DataFrame): Unit =
    acc.collect().foreach { r =>
      println(f"${r.getAs[String]("stage")}%-12s docs=${r.getAs[Long]("n_docs")}%-8d " +
        f"tokens=${r.getAs[Long]("n_tokens")}%-10d id_sum=${r.getAs[Long]("id_sum")}")
    }

  /** Each command's usage line, keyed by the command, in `usage` order. */
  private val Usage: ListMap[String, String] = ListMap.from(Seq(
    "ingest <inputDir> <lakeDir>",
    "materialize <lakeDir> [--encoder-cmd <cmd>] [--encoder-dim <d>]",
    "catalog <lakeDir>",
    "validate <lakeDir>",
    "quality <lakeDir> [thresholdsConfig]",
    "snapshot <lakeDir> <snapshotsDir> <version>",
    "curate <documentsParquet> <outDir>",
    """curate-apply <documentsParquet> <lakeDir> [--resume]
      |      (holds the lake's single-writer lease; a concurrent
      |       curate-apply on the same lake fails fast)""".stripMargin,
    "curate-delta <documentsParquet> <lakeDir>",
    "lake-status <lakeDir>",
    "compact <lakeDir> <layer> [sortCol]",
    "vacuum <lakeDir> <layer>",
    "rollback <lakeDir> <layer> <keepVersion>",
    "versions <lakeDir> <layer>",
    "merge <lakeDir> <layer> <updatesParquet> <keyCol> <partitionCol> [--evolve]",
    "diff <lakeDir> <layer> <fromV> <toV> <keyCol>",
    "index-build <vectorsParquet> <indexDir> [--kind ivf|hnsw] [--cells n] [--int8] [--pq-m n] [--pq-k n] [--m n] [--ef-construction n] [--id-col c] [--vec-col c]",
    "index-update <vectorsParquet> <indexDir> [--kind ivf|hnsw] [--cells n] [--id-col c] [--vec-col c]",
    "index-search <indexDir> <queriesParquet> <outParquet> [--kind ivf|hnsw|hnsw-pq] [--k n] [--probes n] [--ef n] [--window n] [--resident-rerank] [--id-col c] [--vec-col c]"
  ).map(line => line.takeWhile(_ != ' ') -> line))

  private def usage(): Unit = System.err.println(
    ("usage: graft.cli.Main <command> [args]" +: Usage.values.toSeq.map("  " + _)).mkString("\n"))
}
