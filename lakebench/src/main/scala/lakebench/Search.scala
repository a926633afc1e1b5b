package lakebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalogs.DomainCatalogs
import graft.index.{HnswIndex, VectorIndex}

/** Serving phase of `medallion`: one closed-loop client against the lake
  * the pipeline just built. Requests rotate over IVF top-10 (the index
  * the pipeline built), HNSW top-10 and a lookup (a time-range span scan
  * of one episode, a speaker-catalog or an episode-catalog query). */
object Search {
  import Bench._

  /** A query vector with the exact top-10 under both id schemes: the
    * pipeline's IVF index keys spans by `artifact_id`, the HNSW index by
    * the long `vec_id`. */
  final case class Query(id: Long, vec: Array[Double], truth: Set[Long], truthIds: Set[String])

  /** A lookup and the rows the generator predicts for it. */
  sealed trait Lookup
  final case class SpanScan(episode: String, from: Double, until: Double, rows: Long) extends Lookup
  final case class SpeakerQ(speaker: String, episodes: Long, utterances: Long) extends Lookup
  final case class EpisodeQ(episode: String, utterances: Long) extends Lookup

  /** What the serving phase hands back to the workload. */
  final case class Served(setupS: Double, p50Ms: Double, attempted: Long, failed: Long,
      record: Map[String, Any], ledger: Map[String, Double])

  /** Set up serving on `lake` (a long-id vector copy, the HNSW index,
    * warm-up requests), then run the closed loop for the window. With
    * `--trace 1` the window is halved: an untraced half, then as many
    * requests traced. */
  def serve(o: Opts, spark: SparkSession, lakeDir: File, eps: Seq[Gen.Episode],
      failures: mutable.Buffer[String], heap: HeapWatch): Served = {
    val lake = lakeDir.getPath
    val r = new java.util.SplittableRandom(o.seed ^ 0x5EA4C1L)
    val lookups = makeLookups(eps, r)
    val (_, prepS) = timed(prepare(spark, lake))
    val queries = makeQueries(spark, lake, r)
    val warm = mutable.ArrayBuffer.empty[String]
    val (_, warmS) = timed {
      (0 until WarmupRounds * 3).foreach(n => request(spark, lake, n, queries, lookups, None, warm))
    }
    failures ++= warm.map("warm-up " + _)

    def loop(n0: Int, stopAfter: Int => Boolean, tr: Option[Tracer]): Seq[(Int, Double, Double)] = {
      val out = mutable.ArrayBuffer.empty[(Int, Double, Double)]
      var n = n0
      while (!stopAfter(out.length)) {
        val (rec, s) = timed(request(spark, lake, n, queries, lookups, tr, failures))
        out += ((n % 3, s, rec))
        n += 1
      }
      out.toSeq
    }
    val nFail0 = failures.length
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val window = if (o.trace) o.seconds / 2 else o.seconds
    // whole rounds only: an IVF query, an HNSW query and a lookup
    val plain = loop(0, n => n >= 3 && n % 3 == 0 && elapsed >= window, None)
    val plainWall = elapsed
    heap.sample()
    val byType = (0 to 2).map(t => plain.filter(_._1 == t).map(_._2 * 1000.0))
    val record = mutable.LinkedHashMap[String, Any](
      "serve" -> Map("vectors" -> spark.read.parquet(s"$lake/vectors").count(),
        "queries" -> queries.length, "k" -> K, "ivf_probes" -> IvfProbes, "hnsw_ef" -> HnswEf,
        "prepare_s" -> prepS, "warmup_s" -> warmS, "warmup_requests" -> WarmupRounds * 3,
        "requests" -> plain.length, "window_s" -> plainWall,
        "round_ms" -> plain.grouped(3).map(_.map(_._2).sum * 1000.0).toSeq,
        "types" -> Seq("ann_ivf", "ann_hnsw", "lookup").zip(byType).map { case (n, xs) =>
          n -> Map("n" -> xs.length, "p50_ms" -> Report.median(xs),
            "tail" -> Report.tail(xs).map { case (p, v) => Map("percentile" -> p, "ms" -> v) })
        }.toMap,
        "recall_at_10" -> Map("ann_ivf" -> mean(plain.filter(_._1 == 0).map(_._3)),
          "ann_hnsw" -> mean(plain.filter(_._1 == 1).map(_._3)))))
    val ledger = if (!o.trace) Map.empty[String, Double] else {
      val tr = new Tracer(spark, cores)
      tr.attach()
      val (traced, tracedWall) = timed(loop(plain.length, _ >= plain.length, Some(tr)))
      tr.detach()
      Seq(("index.ivf_search", 0), ("index.hnsw_search", 1), ("lookup", 2)).foreach { case (l, t) =>
        tr.add(s"$l.p50_ms", Report.median(traced.filter(_._1 == t).map(_._2 * 1000.0)))
        if (t < 2) tr.add(s"$l.recall_at_10", mean(traced.filter(_._1 == t).map(_._3)))
      }
      tr.add("trace.overhead_s", tracedWall - plainWall)
      record("serve_spans") = spanMaps(tr)
      tr.ledger()
    }
    val attempted = if (o.trace) plain.length * 2L else plain.length.toLong
    val rounds = plain.grouped(3).map(_.map(_._2).sum * 1000.0).toSeq
    Served(prepS + warmS, Report.median(rounds), attempted,
      (failures.length - nFail0).toLong.min(attempted), record.toMap, ledger)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** A long-id copy of the lake's span vectors (the HNSW path takes
    * only long ids) and an HNSW index over it, through the CLI. The IVF
    * requests use the index the pipeline built. */
  def prepare(spark: SparkSession, lake: String): Unit = {
    spark.read.parquet(s"$lake/span_embeddings/embeddings.parquet")
      .select(col("artifact_id"), col("embedding"))
      .withColumn("vec_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("artifact_id")).cast("long"))
      .select("vec_id", "artifact_id", "embedding")
      .write.mode("overwrite").parquet(s"$lake/vectors")
    cli(spark, "index-build", s"$lake/vectors", s"$lake/hnsw", "--kind", "hnsw")
  }

  /** Query vectors: a corpus vector plus noise, with the exact cosine
    * top-10 over the whole corpus as ground truth. */
  def makeQueries(spark: SparkSession, lake: String, r: java.util.SplittableRandom): IndexedSeq[Query] = {
    val rows = spark.read.parquet(s"$lake/vectors").select("vec_id", "artifact_id", "embedding")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getSeq[Float](2).map(_.toDouble).toArray))
    val ids = rows.map(_._1)
    val names = rows.map(_._2).zip(ids).toMap.map(_.swap)
    val vecs = rows.map(_._3)
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val norms = vecs.map(norm)
    (0 until 64).map { qi =>
      val base = vecs(r.nextInt(vecs.length))
      val dim = base.length
      val q = base.map(_ + 0.3 * gaussian(r) / math.sqrt(dim))
      val qn = norm(q)
      val sims = vecs.indices.map { j =>
        var s = 0.0; var d = 0
        val v = vecs(j)
        while (d < dim) { s += q(d) * v(d); d += 1 }
        (s / (qn * norms(j)), ids(j))
      }
      val top = sims.sortBy(x => (-x._1, x._2)).take(K).map(_._2)
      Query(-(qi + 1).toLong, q, top.toSet, top.map(names).toSet)
    }
  }

  private def gaussian(r: java.util.SplittableRandom): Double = {
    val u = math.max(1e-12, r.nextDouble()); val v = r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  def makeLookups(eps: Seq[Gen.Episode], r: java.util.SplittableRandom): IndexedSeq[Lookup] = {
    val speakerEps = mutable.HashMap.empty[String, mutable.Set[String]]
    val speakerUtts = mutable.HashMap.empty[String, Long]
    eps.foreach(e => e.utts.foreach { u =>
      speakerEps.getOrElseUpdate(u.speaker, mutable.Set.empty) += e.id
      speakerUtts(u.speaker) = speakerUtts.getOrElse(u.speaker, 0L) + 1
    })
    val speakers = speakerEps.keys.toIndexedSeq.sorted
    (0 until 48).map { i =>
      val e = eps(r.nextInt(eps.length))
      i % 3 match {
        case 0 =>
          val from = r.nextInt(3000).toDouble
          val until = from + 600.0
          SpanScan(e.id, from, until,
            Gen.spans(e.utts).count { case (s, _) => s >= from && s < until }.toLong)
        case 1 =>
          val s = speakers(r.nextInt(speakers.length))
          SpeakerQ(s, speakerEps(s).size.toLong, speakerUtts(s))
        case _ => EpisodeQ(e.id, e.utts.length.toLong)
      }
    }
  }

  /** Request `n` of the rotation; returns recall@10 for ANN requests
    * (0 for lookups) and records a failure when the answer is wrong. */
  def request(spark: SparkSession, lake: String, n: Int, queries: IndexedSeq[Query],
      lookups: IndexedSeq[Lookup], tr: Option[Tracer], failures: mutable.Buffer[String]): Double = {
    import spark.implicits._
    def span[T](name: String)(f: => T): T = tr.fold(f)(_.span(name)(f))
    def fail(msg: String): Double = { failures += msg; 0.0 }
    try n % 3 match {
      case t @ (0 | 1) =>
        val q = queries((n / 3) % queries.length)
        val (hits, inTruth) = span(if (t == 0) "index.ivf_search" else "index.hnsw_search") {
          if (t == 0) {
            val df = Seq((s"query${q.id}", q.vec.toSeq)).toDF("query_id", "qv")
            val ids = VectorIndex.search(spark, s"$lake/ann_index", df, K, IvfProbes)
              .select("neighbor_id").collect().map(_.getString(0))
            (ids.length, ids.count(q.truthIds))
          } else {
            val df = Seq((q.id, q.vec.toSeq)).toDF("query_id", "qv")
            val ids = HnswIndex.search(spark, s"$lake/hnsw", df, K, efSearch = HnswEf, nProbe = IvfProbes)
              .select("neighbor_id").collect().map(_.getLong(0))
            (ids.length, ids.count(q.truth))
          }
        }
        if (hits != K) fail(s"${if (t == 0) "ivf" else "hnsw"} query ${q.id}: $hits hits, want $K")
        else inTruth.toDouble / K
      case _ =>
        lookups((n / 3) % lookups.length) match {
          case SpanScan(e, a, b, want) =>
            val got = span("lookup") {
              spark.read.parquet(s"$lake/spans")
                .filter(col("episode_id") === e && col("start_time") >= a && col("start_time") < b)
                .select("span_id").collect().length.toLong
            }
            if (got != want) fail(s"span scan $e [$a, $b): $got rows, generator predicts $want") else 0.0
          case SpeakerQ(s, eCount, uCount) =>
            val rows = span("lookup") {
              DomainCatalogs.loadLatestCatalog(spark, s"$lake/catalogs", "speakers")
                .filter(col("speaker") === s).select("episode_count", "total_utterances").collect()
            }
            val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
            if (got != Seq((eCount, uCount))) fail(s"speaker $s: $got, generator predicts ${(eCount, uCount)}")
            else 0.0
          case EpisodeQ(e, uCount) =>
            val rows = span("lookup") {
              DomainCatalogs.loadLatestCatalog(spark, s"$lake/catalogs", "episodes")
                .filter(col("episode_id") === e).select("utterance_count").collect()
            }
            val got = rows.map(_.getLong(0)).toSeq
            if (got != Seq(uCount)) fail(s"episode $e: $got utterances, generator predicts $uCount")
            else 0.0
        }
    } catch { case e: Exception => fail(s"request $n: $e") }
  }
}
