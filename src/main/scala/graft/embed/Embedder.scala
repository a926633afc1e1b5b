package graft.embed

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.Json

/** V1 embedding generation behind a pluggable encoder
  * (reference: src/lakehouse/embeddings/generator.py:128-223,
  * models.py:87-348 — sentence-transformers/OpenAI batch encode with a
  * provider fallback chain; hermetic deterministic stub for CI).
  *
  * Spark shape: `mapPartitions` with batched encoding — the executor-side
  * analog of the reference's batch-32 `model.encode` loop. The encoder is
  * a plain serializable trait; a real ONNX/JNI model plugs in without
  * touching the plumbing. Text is truncated to `maxChars` first
  * (generator.py:167-170).
  */
trait TextBatchEncoder extends Serializable {
  def name: String
  def version: Option[String]
  def dim: Int
  /** Encode a batch of texts into dim-sized vectors. */
  def encode(texts: Seq[String]): Seq[Array[Float]]
}

/** Deterministic, hermetic encoder: per-dimension values derived from a
  * seeded hash of the text, L2-normalized. Similar texts do NOT embed
  * similarly — this is a plumbing stub (the reference mocks models the
  * same way in tests, tests/test_aggregation.py:18-60). */
final case class HashEncoder(dim: Int = 384) extends TextBatchEncoder {
  def name = "graft-hash-encoder"
  def version = Some("1")
  def encode(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
    val v = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val h = scala.util.hashing.MurmurHash3.stringHash(t, i + 1)
      v(i) = (h.toDouble / Int.MaxValue).toFloat
      i += 1
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm > 0) v.map(x => (x / norm).toFloat) else v
  }
}

/** Encoder backed by an EXTERNAL process — the dependency-free seam to a
  * REAL model in an environment where model jars can't ship (reference:
  * models.py:87-348's provider chain; the sentence-transformers/ONNX
  * runner becomes a CLI honoring this protocol).
  *
  * Line protocol, one process per batch: each text goes to stdin as one
  * JSON string per line; the process answers one JSON float array per
  * line, in order, and exits 0 after stdin closes. Runs on the EXECUTOR
  * inside `mapPartitions` batches, so a 1000-executor cluster fans the
  * model out with zero driver involvement. A production impl would keep
  * one long-lived worker per executor (same protocol, amortized spawn);
  * per-batch spawn keeps this reference implementation robust under
  * Spark's many-tasks-per-JVM concurrency. */
final case class ProcessEncoder(command: Seq[String], dim: Int,
    encoderName: String = "graft-process-encoder",
    modelVersion: Option[String] = None) extends TextBatchEncoder {
  def name: String = encoderName
  def version: Option[String] = modelVersion

  def encode(texts: Seq[String]): Seq[Array[Float]] = {
    val proc = new ProcessBuilder(command: _*).start()
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(proc.getOutputStream, "UTF-8"))
    // writer AND stderr-drain on their own threads: sharing the reader's
    // thread deadlocks once any pipe buffer fills — stdin vs stdout for
    // the writer, and stderr for a chatty model (a real encoder logging
    // more than the OS pipe buffer would block mid-write and never close
    // stdout, hanging the task with no timeout)
    val writer = new Thread(() => {
      try {
        texts.foreach { t => out.write(Json.compact(t)); out.newLine() }
        out.close()
      } catch { case _: java.io.IOException => () } // early death → rc check below
    })
    writer.setDaemon(true)
    writer.start()
    val errBuf = new java.lang.StringBuilder
    val errDrain = new Thread(() => {
      try scala.io.Source.fromInputStream(proc.getErrorStream, "UTF-8")
        .foreach(c => if (errBuf.length < 500) errBuf.append(c))
      catch { case _: java.io.IOException => () }
    })
    errDrain.setDaemon(true)
    errDrain.start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
      .getLines().toList
    writer.join()
    val rc = proc.waitFor()
    errDrain.join()
    if (rc != 0 || lines.size != texts.size) {
      val err = errBuf.toString
      throw new RuntimeException(
        s"$name: ${command.head} exited rc=$rc with ${lines.size}/${texts.size} vectors" +
          (if (err.nonEmpty) s"; stderr: $err" else ""))
    }
    lines.map(parseVector)
  }

  private def parseVector(line: String): Array[Float] = {
    val v = Json.mapper.readValue(line, classOf[Array[Float]])
    require(v.length == dim, s"$name: expected $dim dims, got ${v.length} in '$line'")
    v
  }
}

object Embedder {

  val DefaultBatchSize = 32
  val DefaultMaxChars = 8192

  /** Produce the embeddings artifact table
    * (artifact_id, artifact_type, embedding, model_name, model_version)
    * from any frame with an id column and a text column. */
  def embed(df: DataFrame, idCol: String, textCol: String, artifactType: String,
      encoder: TextBatchEncoder,
      batchSize: Int = DefaultBatchSize,
      maxChars: Int = DefaultMaxChars): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs: Dataset[(String, String)] = df
      .select(col(idCol).cast("string"), substring(col(textCol), 1, maxChars))
      .as[(String, String)]
    val encoded = pairs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val vecs = encoder.encode(batch.map(_._2))
        batch.zip(vecs).map { case ((id, _), v) => (id, v.toSeq) }
      }
    }
    encoded.toDF("artifact_id", "embedding")
      .withColumn("artifact_type", lit(artifactType))
      .withColumn("model_name", lit(encoder.name))
      .withColumn("model_version", lit(encoder.version.orNull))
      .select("artifact_id", "artifact_type", "embedding", "model_name", "model_version")
  }

  /** Parsed metadata sidecar entry (one per artifact_type/model pair). */
  final case class StoreMeta(artifactType: String, modelName: String,
      modelVersion: Option[String], count: Long, dim: Int)

  /** S12 load path: embeddings parquet + parsed metadata sidecar — the
    * round-trip counterpart of [[store]] (reference
    * embeddings/storage.py:138-196). `artifactType` filters to one type
    * (pushed down to the parquet scan). */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String,
      artifactType: Option[String] = None): (DataFrame, Seq[StoreMeta]) = {
    val df0 = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = artifactType.fold(df0)(t => df0.filter(col("artifact_type") === t))
    val path = new org.apache.hadoop.fs.Path(s"$dir/metadata.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta =
      if (!fs.exists(path)) Nil
      else Json.read(fs.open(path)).elements().asScala.map { e =>
        StoreMeta(e.get("artifact_type").asText, e.get("model_name").asText,
          Option(e.path("model_version").textValue), e.get("count").asLong,
          e.get("dim").asInt)
      }.toSeq.sortBy(e => (e.artifactType, e.modelName))
    (df, meta)
  }

  /** S12 storage layout: parquet per artifact type + a small JSON
    * metadata sidecar (model, dim, counts). The sidecar is aggregated
    * from the WRITTEN rows, read back under the frame's own schema: the
    * frame itself runs once, so the encoder behind an [[embed]] frame
    * sees each text once. */
  def store(embeddings: DataFrame, outDir: String): Unit = {
    val spark = embeddings.sparkSession
    val data = s"$outDir/embeddings.parquet"
    embeddings.write.mode("overwrite").parquet(data)
    val meta = spark.read.schema(embeddings.schema).parquet(data)
      .groupBy("artifact_type", "model_name", "model_version")
      .agg(count(lit(1)).as("n"), max(size(col("embedding"))).as("dim"))
      .collect()
      .map(r => ListMap("artifact_type" -> r.getString(0), "model_name" -> r.getString(1),
        "model_version" -> Option(r.getString(2)), "count" -> r.getLong(3),
        "dim" -> r.getInt(4)))
    val path = new org.apache.hadoop.fs.Path(s"$outDir/metadata.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Json.write(fs.create(path, true), meta.toSeq)
  }
}
