package graft.quality

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

import graft.expressions.TopKMin

/** F5 duration guardrails + F12 check routing.
  *
  * Guardrails (reference: cli/commands/materialize.py:169-236): drop
  * segments above a duration ceiling, reporting the top offenders —
  * a sanitation pass between materialization steps.
  *
  * Routing (reference: quality/validator_router.py:129-165 +
  * config/validator_routing.yaml): a declarative table of which checks
  * run for which artifact role; driver-side rule dispatch, not Catalyst.
  */
object Guardrails {

  val SpanMaxDuration = 240.0 // materialize.py guardrail defaults
  val BeatMaxDuration = 360.0

  /** `kept` and `dropped` split `segments` at the ceiling. */
  final case class GuardrailResult(kept: DataFrame, dropped: DataFrame,
      private val keptObserved: Observation => DataFrame) {
    /** Writes `kept` as parquet at `path` (overwriting) and returns the
      * kept-row count and the top-5 dropped (id, duration), longest
      * first. Both are observed on the write itself, so they cost no job
      * and no second pass over the segments. */
    def writeKept(path: String): (Long, Seq[(String, Double)]) = {
      val observed = Observation()
      keptObserved(observed).write.mode("overwrite").parquet(path)
      (observed.get("kept").asInstanceOf[Long],
        observed.get("top").asInstanceOf[Seq[Row]].map(r => (r.getString(2), -r.getDouble(1))))
    }
  }

  /** Split at the ceiling; capture the top-5 dropped by duration
    * (materialize.py logs exactly these). No caching: the split is a
    * pushed-down filter, so `kept`/`dropped` each cost one pruned scan,
    * and the offenders ride on `kept`'s write in a bounded top-k
    * aggregate. The top-k key orders duration descending (NaN first,
    * like a descending sort), then id. */
  def apply(segments: DataFrame, idCol: String, maxDuration: Double): GuardrailResult = {
    val d = col("duration")
    val key = struct(when(isnan(d), 0).otherwise(1), -d, col(idCol))
    GuardrailResult(segments.filter(d <= maxDuration), segments.filter(d > maxDuration),
      observed => segments
        .observe(observed, count(when(d <= maxDuration, true)).as("kept"),
          TopKMin.topkMin(when(d > maxDuration, key), 5).as("top"))
        .filter(d <= maxDuration))
  }

  // ---- F12: check routing -------------------------------------------

  /** Which checks apply to which artifact role, plus which role each
    * table plays (config/validator_routing.yaml semantics: the yaml's
    * `tables.<name>.role` + per-role check lists). Extend via
    * `withRoute`/`withTable`, or load from a config file. */
  final case class Routing(routes: Map[String, Set[String]],
      tables: Map[String, String] = Map.empty) {
    def checksFor(role: String): Set[String] = routes.getOrElse(role, Set.empty)
    def withRoute(role: String, checks: Set[String]): Routing =
      copy(routes = routes + (role -> (checksFor(role) ++ checks)))
    def withTable(table: String, role: String): Routing =
      copy(tables = tables + (table -> role))
    def roleOf(table: String): String = tables.getOrElse(table, "unknown")
    /** Checks enabled for a TABLE — None when the table is unrouted,
      * which callers treat as "run everything" (the reference allows all
      * checks on unknown tables — validator_router.py:148-160). */
    def tableChecks(table: String): Option[Set[String]] =
      tables.get(table).map(checksFor)
  }

  /** Defaults mirroring config/validator_routing.yaml's base-vs-embedding
    * split: structural checks on base tables, dim/join-back on embeddings.
    * Family names must be the ones Validation.counterChecks gates on
    * (ids/numerics/timestamps/text/duplicates/referential) — "numerics"
    * covers the NaN/Inf float checks, durations included. */
  val defaultRouting: Routing = Routing(Map(
    "base" -> Set("timestamps", "text", "ids", "referential", "numerics", "duplicates"),
    "embedding" -> Set("ids", "dim_consistency", "id_join_back")))

  /** Load routing from a `key = value` config file (same format + C18
    * `${VAR}` env interpolation as Quality.loadThresholds — the repo's
    * flat-config analog of validator_routing.yaml):
    *
    * {{{
    * role.base.checks = ids, timestamps, text, duplicates, referential
    * role.embedding.checks = ids, dim_consistency, id_join_back
    * table.spans.role = base
    * table.span_embeddings.role = embedding
    * }}}
    */
  def loadRouting(path: String, base: Routing = defaultRouting): Routing = {
    val RoleRe = "^role\\.([\\w-]+)\\.checks$".r
    val TableRe = "^table\\.([\\w-]+)\\.role$".r
    val r = graft.core.Config.loadKeyValues(path).foldLeft(base) { case (r, (k, v)) =>
      k match {
        case RoleRe(role) =>
          r.copy(routes = r.routes +
            (role -> v.split(",").map(_.trim).filter(_.nonEmpty).toSet))
        case TableRe(table) => r.withTable(table, v.trim)
        case _              => r
      }
    }
    // a typo'd role would silently route the table to ZERO checks — the
    // opposite of the unknown-TABLE fallback (run everything); refuse at
    // the file boundary instead
    val undefined = r.tables.collect {
      case (t, role) if !r.routes.contains(role) => s"$t -> $role"
    }
    require(undefined.isEmpty,
      s"routing file $path maps tables to undefined roles: " +
        s"${undefined.mkString(", ")} (defined roles: ${r.routes.keys.toSeq.sorted.mkString(", ")})")
    r
  }

  /** J4/V16: embedding-side checks — dim consistency and id join-back
    * (every artifact_id must exist in the base table). */
  def embeddingChecks(embeddings: DataFrame, base: DataFrame, baseIdCol: String): DataFrame = {
    val dims = embeddings.agg(
      countDistinct(size(col("embedding"))).as("n_distinct_dims"),
      min(size(col("embedding"))).cast("long").as("min_dim"),
      max(size(col("embedding"))).cast("long").as("max_dim"))
    val orphans = embeddings.join(
        base.select(col(baseIdCol).as("artifact_id")), Seq("artifact_id"), "left_anti")
      .agg(count(lit(1)).as("n_orphan_embeddings"))
    dims.crossJoin(orphans)
  }
}
