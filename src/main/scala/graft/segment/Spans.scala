package graft.segment

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SpeakerRole
import graft.expressions.IdFunctions
import graft.operators.Sessionize

/** G1 span generation + G2 speaker-role enrichment
  * (reference: src/lakehouse/aggregation/spans.py:113-249,
  * speaker_roles.py:24-255).
  *
  * Pure gaps-and-islands: one shuffle on episode_id, then window
  * expressions; the only non-window trick is the ordered re-assembly of
  * grouped text via array_sort(collect_list(struct(...))) — deterministic
  * regardless of task scheduling.
  */
object Spans {

  val DefaultMinDuration = 1.0
  val DefaultMaxSilenceGap = 0.5

  def generate(utterances: DataFrame,
      minDuration: Double = DefaultMinDuration,
      maxSilenceGap: Double = DefaultMaxSilenceGap): DataFrame = {
    IdFunctions.register(utterances.sparkSession)
    val part = Seq(col("episode_id"))
    val order = Seq(col("start"), col("end"), col("utterance_id"))
    val w = Window.partitionBy(part: _*).orderBy(order: _*)

    val prevSpeaker = lag(col("speaker"), 1).over(w)
    val prevEnd = lag(col("end"), 1).over(w)
    val brk = prevEnd.isNull ||
      (col("speaker") =!= prevSpeaker) ||
      (col("start") - prevEnd > maxSilenceGap)

    val grouped = utterances
      .withColumn("_grp", Sessionize.islandId(part, order, brk))
      .groupBy(col("episode_id"), col("_grp"))
      .agg(
        min(col("start")).as("start_time"),
        max(col("end")).as("end_time"),
        // same speaker throughout a span by construction
        min(col("speaker")).as("speaker"),
        array_sort(collect_list(struct(col("start"), col("utterance_id"), col("text"))))
          .as("_utts"))

    val assembled = grouped
      .withColumn("duration", col("end_time") - col("start_time"))
      .filter(col("duration") >= minDuration) // drop-then-number, like the reference
      .withColumn("text", concat_ws(" ", transform(col("_utts"), u => u.getField("text"))))
      .withColumn("utterance_ids", transform(col("_utts"), u => u.getField("utterance_id")))
      .withColumn("position",
        row_number().over(Window.partitionBy("episode_id").orderBy("start_time", "end_time")) - 1)

    assembled
      .withColumn("span_id", IdFunctions.span_id(
        col("episode_id"), col("position"), col("speaker"),
        col("utterance_ids"), col("text")))
      .select("span_id", "episode_id", "speaker", "start_time", "end_time",
        "duration", "text", "utterance_ids")
  }

  /** G2: attach canonical speaker, role and expert flag from a (small)
    * role map — broadcast join, defaults preserved on misses
    * (speaker_roles.py defaults: canonical=speaker, role=other). */
  def enrichWithRoles(spans: DataFrame, roles: Map[String, SpeakerRole]): DataFrame = {
    val spark = spans.sparkSession
    import spark.implicits._
    val rolesDf = roles.toSeq
      .map { case (name, r) => (name, r.canonical, r.role, r.isExpert) }
      .toDF("speaker", "_canonical", "_role", "_is_expert")
    spans.join(broadcast(rolesDf), Seq("speaker"), "left")
      .withColumn("speaker_canonical", coalesce(col("_canonical"), col("speaker")))
      .withColumn("speaker_role", coalesce(col("_role"), lit("other")))
      .withColumn("is_expert", coalesce(col("_is_expert"), lit(false)))
      .drop("_canonical", "_role", "_is_expert")
      .select("span_id", "episode_id", "speaker", "speaker_canonical",
        "speaker_role", "is_expert", "start_time", "end_time", "duration",
        "text", "utterance_ids")
  }
}
