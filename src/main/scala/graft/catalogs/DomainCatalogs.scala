package graft.catalogs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.Layout

/** Episode/speaker metadata catalogs as Spark SQL aggregations
  * (reference: src/lakehouse/catalogs/episodes.py:82-174,
  * speakers.py:37-143 — DuckDB SQL per file + pandas concat there; a
  * single partial/final hash aggregate here, so the explicit two-phase
  * re-agg at speakers.py:94-113 (A3) is subsumed by Spark's map-side
  * partial aggregation).
  */
object DomainCatalogs {

  /** "Series - #NUM - YYYY-MM-DD - Title" → title (episodes.py:37-57). */
  def titleFromEpisodeId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val parts = split(c, " - ")
    when(size(parts) >= 4, concat_ws(" - ", slice(parts, 4, 1000000))).otherwise(c)
  }

  /** … → date string or null (episodes.py:59-80). `get` (not
    * `element_at`) so an out-of-range part is null instead of an ANSI
    * runtime error. */
  def dateFromEpisodeId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val d = get(split(c, " - "), lit(2))
    when(d.rlike("^\\d{4}-\\d{2}-\\d{2}$"), d).otherwise(lit(null).cast("string"))
  }

  /** A1 episode catalog over normalized utterances. */
  def episodeCatalog(utterances: DataFrame): DataFrame =
    utterances.groupBy("episode_id")
      .agg(
        min(col("start")).as("start_time"),
        max(col("end")).as("end_time"),
        (max(col("end")) - min(col("start"))).as("duration_seconds"),
        count(lit(1)).as("utterance_count"),
        countDistinct(col("speaker")).as("speaker_count"),
        concat_ws(", ", array_sort(collect_set(col("speaker")))).as("speaker_list"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("start"), col("utterance_id"), col("text")))),
          s => s.getField("text"))).as("full_text"))
      .withColumn("title", titleFromEpisodeId(col("episode_id")))
      .withColumn("date", dateFromEpisodeId(col("episode_id")))
      .orderBy("episode_id")

  /** A2 speaker catalog (speakers.py:61-75): per-speaker totals,
    * episode list, utterances/episode. */
  def speakerCatalog(utterances: DataFrame): DataFrame =
    utterances.groupBy("speaker")
      .agg(
        countDistinct(col("episode_id")).as("episode_count"),
        count(lit(1)).as("total_utterances"),
        sum(col("end") - col("start")).as("total_duration"),
        min(col("start")).as("first_appearance"),
        max(col("end")).as("last_appearance"),
        concat_ws(", ", array_sort(collect_set(col("episode_id")))).as("episode_list"))
      .withColumn("utterances_per_episode",
        col("total_utterances").cast("double") / col("episode_count"))
      .orderBy("speaker")

  /** W3 rankings: top-N speakers by a metric column. Distributed
    * TakeOrderedAndProject first; only the n survivors get numbered (a
    * bare global row_number would rank every speaker in one task). */
  def topSpeakers(catalog: DataFrame, metric: String, n: Int): DataFrame =
    catalog
      .orderBy(col(metric).desc, col("speaker")).limit(n)
      .withColumn("rank", row_number().over(
        Window.orderBy(col(metric).desc, col("speaker"))))
      .orderBy("rank")

  /** S14 load-latest (episodes.py:205-228): the newest committed
    * version of catalog `name`, written by the `catalog` command as
    * `Layout.writeVersioned(df, dir, name)`. An unfinished or failed
    * write is never read, and the marker's schema spares the load an
    * inference job. */
  def loadLatestCatalog(spark: SparkSession, dir: String, name: String): DataFrame =
    Layout.loadLatest(spark, dir, name)
}
