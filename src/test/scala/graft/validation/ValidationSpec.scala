package graft.validation

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.validation.Validation.TableSpec

/** Planted-violation tests for the validation check suite (reference
  * pattern: tests/test_validation.py plants dups/nulls/orphans and
  * asserts each check catches them). */
class ValidationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def checkMap(df: org.apache.spark.sql.DataFrame): Map[String, (Boolean, Option[Long])] =
    df.collect().map { r =>
      r.getAs[String]("check_name") ->
        ((r.getAs[Boolean]("passed"),
          Option(r.getAs[java.lang.Long]("metric")).map(_.longValue())))
    }.toMap

  test("PK duplicates and null IDs are counted") {
    val df = Seq(
      Some("a"), Some("a"), Some("a"), Some("b"), None
    ).toDF("span_id")
    val checks = checkMap(Validation.counterChecks(df, TableSpec("t",
      primaryKeys = Seq(Seq("span_id")))))
    // 3 'a' rows → 2 duplicate rows beyond the first; 1 null id
    assert(checks("id_duplicates_span_id") == ((false, Some(2L))))
    assert(checks("id_nulls_span_id") == ((false, Some(1L))))
    assert(checks("non_empty_table") == ((true, Some(5L))))
  }

  test("composite PK uniqueness") {
    val df = Seq((1L, 1), (1L, 2), (1L, 1)).toDF("order_id", "line")
    val checks = checkMap(Validation.counterChecks(df, TableSpec("t",
      primaryKeys = Seq(Seq("order_id", "line")))))
    assert(checks("id_duplicates_order_id_line") == ((false, Some(1L))))
  }

  test("NaN and Inf are counted separately; clean doubles pass") {
    val df = Seq(1.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 2.0).toDF("duration")
    val checks = checkMap(Validation.counterChecks(df, TableSpec("t")))
    assert(checks("numeric_nans_duration") == ((false, Some(1L))))
    assert(checks("numeric_inf_duration") == ((false, Some(2L))))
  }

  test("timestamp checks: nulls, negatives, start > end") {
    val df = Seq(
      (Some(0.0), Some(10.0)),   // fine
      (Some(20.0), Some(15.0)),  // inverted
      (Some(-5.0), Some(1.0)),   // negative start
      (None: Option[Double], Some(2.0))) // null start
      .toDF("start_time", "end_time")
    val checks = checkMap(Validation.counterChecks(df, TableSpec("t")))
    assert(checks("timestamp_monotonic") == ((false, Some(1L))))
    assert(checks("timestamp_negative_start_time") == ((false, Some(1L))))
    assert(checks("timestamp_nulls_start_time") == ((false, Some(1L))))
    assert(checks("timestamp_nulls_end_time") == ((true, Some(0L))))
  }

  test("text checks: nulls error, empties warn") {
    val df = Seq(Some("hi"), Some(""), None).toDF("text")
    val out = Validation.counterChecks(df, TableSpec("t"))
    val bySeverity = out.collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[String]("severity")).toMap
    val checks = checkMap(out)
    assert(checks("text_nulls") == ((false, Some(1L))) && bySeverity("text_nulls") == "error")
    assert(checks("text_empty") == ((false, Some(1L))) && bySeverity("text_empty") == "warning")
  }

  test("empty table fails non_empty_table and nothing else crashes") {
    val df = Seq.empty[(String, Double)].toDF("span_id", "duration")
    val checks = checkMap(Validation.counterChecks(df, TableSpec("t",
      primaryKeys = Seq(Seq("span_id")))))
    assert(checks("non_empty_table")._1 == false)
  }

  test("null FK values are not orphans (anti-join excludes them)") {
    val child = Seq((1L, Some(10L)), (2L, None: Option[Long])).toDF("id", "parent_key")
    val parent = Seq(10L).toDF("pk")
    val row = Validation.fkOrphanCheck(child, "child", "parent_key", parent, "pk").first()
    assert(row.getAs[Boolean]("passed") && row.getAs[Long]("metric") == 0L)
  }

  test("fused referential path flags orphans, row-weighted, with null FKs excluded") {
    // exercises fusedKeyChecks via validateTable (the production route for
    // referential-enabled FKs) — NOT fkOrphanCheck: the child plants the
    // orphan value 99 TWICE (the metric must be row-weighted, matching the
    // row-level anti-join semantics, so 3 orphan rows total) plus a null FK
    // (never an orphan).
    val child = Seq(
      (1L, Some(10L)), (2L, Some(11L)),
      (3L, Some(99L)), (4L, Some(99L)),            // duplicate orphan value: 2 rows
      (5L, Some(77L)),                             // distinct orphan value: 1 row
      (6L, None: Option[Long]))                    // null FK: excluded
      .toDF("id", "parent_key")
    val parent = Seq(10L, 11L).toDF("pk")
    val checks = checkMap(Validation.validateTable(child,
      TableSpec("child", foreignKeys = Seq(("parent_key", "parent", "pk"))),
      related = Map("parent" -> parent),
      enabled = Some(Set("referential"))))
    assert(checks("referential_integrity_parent_key") == ((false, Some(3L))))
    // fused cardinality counts distinct non-null FK values (10,11,99,77)
    assert(checks("id_foreign_key_parent_key") == ((true, Some(4L))))
  }

  test("fused referential path passes on a clean child") {
    val child = Seq((1L, 10L), (2L, 11L), (3L, 10L)).toDF("id", "parent_key")
    val parent = Seq(10L, 11L).toDF("pk")
    val checks = checkMap(Validation.validateTable(child,
      TableSpec("child", foreignKeys = Seq(("parent_key", "parent", "pk"))),
      related = Map("parent" -> parent),
      enabled = Some(Set("referential"))))
    assert(checks("referential_integrity_parent_key") == ((true, Some(0L))))
    assert(checks("id_foreign_key_parent_key") == ((true, Some(2L))))
  }

  test("a reference matches a key of another type as a join would") {
    val intFk = Seq((1L, 10), (2L, 11), (3L, 99)).toDF("id", "parent_key")
    def orphans(child: org.apache.spark.sql.DataFrame,
        parent: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      val spec = TableSpec("child", foreignKeys = Seq(("parent_key", "parent", "pk")))
      val table = checkMap(Validation.validateTable(child, spec,
        related = Map("parent" -> parent), enabled = Some(Set("referential"))))
      // beside a string-keyed table, keys shuffle as strings
      val all = checkMap(Validation.validateAll(
        Map("child" -> child, "parent" -> parent, "other" -> Seq("x").toDF("other_id")),
        Seq(spec, TableSpec("other", primaryKeys = Seq(Seq("other_id"))))))
      Map("validateTable" -> table("referential_integrity_parent_key")._2.get,
        "validateAll" -> all("referential_integrity_parent_key")._2.get,
        "fkOrphanCheck" -> Validation.fkOrphanCheck(child, "child", "parent_key", parent, "pk")
          .first().getAs[Long]("metric"))
    }
    val one = Map("validateTable" -> 1L, "validateAll" -> 1L, "fkOrphanCheck" -> 1L)
    // int FK against long and double keys: only 99 is an orphan
    assert(orphans(intFk, Seq(10L, 11L).toDF("pk")) == one)
    assert(orphans(intFk, Seq(10.0, 11.0).toDF("pk")) == one)
    // decimals of different scales compare by value
    val decFk = intFk.select(col("id"), col("parent_key").cast("decimal(10,2)").as("parent_key"))
    assert(orphans(decFk, Seq(10, 11).toDF("pk").select(col("pk").cast("decimal(12,4)").as("pk")))
      == one)
    // child-ID array elements of int against long keys
    val arrays = Seq(("b1", Seq(10, 11)), ("b2", Seq(12))).toDF("beat_id", "span_ids")
    val rows = Validation.childArrayOrphanCheck(arrays, "beats", "span_ids",
        Seq(10L, 11L).toDF("span_id"), "span_id")
      .filter(col("check_name") === "referential_orphans_span_ids").first()
    assert(rows.getAs[Long]("metric") == 1L)
  }

  test("composite PK dup count ignores rows with a null key part") {
    val df = Seq(
      (Some(1L), Some(1)), (Some(1L), Some(1)), // dup pair
      (None: Option[Long], Some(1)), (None: Option[Long], Some(1))) // null keys: not counted
      .toDF("order_id", "line")
    val checks = checkMap(Validation.counterChecks(df, TableSpec("t",
      primaryKeys = Seq(Seq("order_id", "line")))))
    assert(checks("id_duplicates_order_id_line") == ((false, Some(1L))))
  }

  test("scalar FK orphans found via anti-join") {
    val child = Seq((1L, 10L), (2L, 11L), (3L, 99L)).toDF("id", "parent_key")
    val parent = Seq(10L, 11L).toDF("pk")
    val row = Validation.fkOrphanCheck(child, "child", "parent_key", parent, "pk").first()
    assert(!row.getAs[Boolean]("passed") && row.getAs[Long]("metric") == 1L)
  }

  test("deep referential integrity: child-ID array orphans via explode + anti-join") {
    val beats = Seq(
      ("b1", Seq("s1", "s2")),
      ("b2", Seq("s3", "sX", "sY"))) // 2 orphans
      .toDF("beat_id", "span_ids")
    val spans = Seq("s1", "s2", "s3").toDF("span_id")
    val rows = Validation.childArrayOrphanCheck(beats, "beats", "span_ids", spans, "span_id")
      .collect().map(r => r.getAs[String]("check_name") ->
        ((r.getAs[Boolean]("passed"), r.getAs[Long]("metric")))).toMap
    assert(rows("referential_orphans_span_ids") == ((false, 2L)))
    assert(rows("referential_integrity_span_ids") == ((true, 0L)))
  }

  test("validateAll on a clean mini-lakehouse has zero failed error checks") {
    val utterances = Seq(
      ("u1", "ep1", 0.0, 5.0, "A", "hello there"),
      ("u2", "ep1", 5.0, 9.0, "B", "general kenobi"))
      .toDF("utterance_id", "episode_id", "start", "end", "speaker", "text")
    val spans = Seq(
      ("s1", "ep1", 0.0, 9.0, 9.0, "hello there general kenobi", Seq("u1", "u2")))
      .toDF("span_id", "episode_id", "start_time", "end_time", "duration", "text", "utterance_ids")
    val checks = Validation.validateAll(
      Map("utterances" -> utterances, "spans" -> spans),
      Seq(
        TableSpec("utterances", primaryKeys = Seq(Seq("utterance_id"))),
        TableSpec("spans", primaryKeys = Seq(Seq("span_id")),
          foreignKeys = Seq(("episode_id", "utterances", "episode_id")),
          childArrays = Seq(("utterance_ids", "utterances", "utterance_id")))))
    val failedErrors = checks.filter(!col("passed") && col("severity") === "error").count()
    assert(failedErrors == 0)
    // deep integrity check actually ran
    assert(checks.filter(col("check_name") === "referential_orphans_utterance_ids").count() == 1)
  }

  test("summarize counts passed/failed/errors/warnings") {
    val df = Seq(
      ("t", "a", "error", true, 0L),
      ("t", "b", "error", false, 2L),
      ("t", "c", "warning", false, 1L))
      .toDF("table_name", "check_name", "severity", "passed", "metric")
    val s = Validation.summarize(df).first()
    assert(s.getAs[Long]("total_checks") == 3)
    assert(s.getAs[Long]("passed_checks") == 1)
    assert(s.getAs[Long]("failed_checks") == 2)
    assert(s.getAs[Long]("errors") == 1)
    assert(s.getAs[Long]("warnings") == 1)
  }

  test("schema checks flag missing and mistyped columns") {
    import org.apache.spark.sql.types._
    val expected = StructType(Seq(
      StructField("id", StringType), StructField("v", DoubleType)))
    val df = Seq((1, "x")).toDF("id", "extra") // id mistyped int, v missing
    val rows = Validation.schemaChecks(df, TableSpec("t"), expected)
      .collect().map(r => r.getAs[String]("check_name") -> r.getAs[Boolean]("passed")).toMap
    assert(rows("required_fields") == false)
    assert(rows("schema_compliance") == false)
  }

  test("schema checks tolerate nullability drift from parquet round-trips") {
    import org.apache.spark.sql.types._
    // declared non-null fields + non-null array elements...
    val expected = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("ids", ArrayType(StringType, containsNull = false), nullable = false)))
    // ...come back nullable from parquet; only SHAPE mismatches count
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("a", Seq("x")))),
      StructType(Seq(
        StructField("id", StringType, nullable = true),
        StructField("ids", ArrayType(StringType, containsNull = true), nullable = true))))
    val rows = Validation.schemaChecks(df, TableSpec("t"), expected)
      .collect().map(r => r.getAs[String]("check_name") -> r.getAs[Boolean]("passed")).toMap
    assert(rows("required_fields") == true)
    assert(rows("schema_compliance") == true)
  }

  test("F12 file-driven routing: embedding table gets dim/join-back only") {
    import graft.quality.Guardrails
    val cfg = java.nio.file.Files.createTempFile("graft_routing", ".conf")
    java.nio.file.Files.writeString(cfg,
      """# validator routing (flat-config analog of validator_routing.yaml)
        |role.base.checks = ids, numerics, timestamps, text, duplicates, referential
        |role.embedding.checks = ids, dim_consistency, id_join_back
        |table.spans.role = ${GRAFT_MISSING_ROLE:-base}
        |table.span_embeddings.role = embedding
        |""".stripMargin)
    val routing = Guardrails.loadRouting(cfg.toString)
    assert(routing.roleOf("spans") == "base") // env default interpolated
    assert(routing.roleOf("unrouted_table") == "unknown")

    val spans = Seq(("s1", "EP1", 0.0, 1.0, "hello"), ("s2", "EP1", 1.0, 2.0, "world"))
      .toDF("span_id", "episode_id", "start_time", "end_time", "text")
    val emb = Seq(("s1", Seq(1.0f, 2.0f)), ("s2", Seq(3.0f, 4.0f)), ("sX", Seq(5.0f, 6.0f)))
      .toDF("artifact_id", "embedding")
    val checks = Validation.validateAll(
      Map("spans" -> spans, "span_embeddings" -> emb),
      Seq(
        TableSpec("spans", primaryKeys = Seq(Seq("span_id"))),
        TableSpec("span_embeddings", primaryKeys = Seq(Seq("artifact_id")),
          foreignKeys = Seq(("artifact_id", "spans", "span_id")))),
      routing = Some(routing)).collect()

    val embChecks = checks.filter(_.getAs[String]("table_name") == "span_embeddings")
      .map(r => r.getAs[String]("check_name") -> r.getAs[Boolean]("passed")).toMap
    // routed: ids + dim_consistency + id_join_back (plus the non-empty base counter)
    assert(embChecks.keySet ==
      Set("non_empty_table", "id_nulls_artifact_id", "dim_consistency",
        "id_join_back_artifact_id"))
    assert(embChecks("dim_consistency") == true)    // all dims = 2
    assert(embChecks("id_join_back_artifact_id") == false) // sX is an orphan
    // NOT routed for embeddings: text/duplicate/fk-cardinality checks
    assert(!embChecks.contains("text_nulls"))
    assert(!embChecks.contains("id_duplicates_artifact_id"))

    val spanChecks = checks.filter(_.getAs[String]("table_name") == "spans")
      .map(_.getAs[String]("check_name")).toSet
    // base role keeps the counter suite
    assert(spanChecks.contains("id_duplicates_span_id"))
    assert(spanChecks.contains("timestamp_monotonic"))
    assert(spanChecks.contains("text_nulls"))
    assert(!spanChecks.contains("dim_consistency"))

    // a table the routing file doesn't mention runs EVERYTHING (the
    // reference allows all checks on unknown tables)
    val unrouted = Validation.validateAll(
      Map("mystery" -> spans), Seq(TableSpec("mystery", primaryKeys = Seq(Seq("span_id")))),
      routing = Some(routing))
      .collect().map(_.getAs[String]("check_name")).toSet
    assert(unrouted.contains("id_duplicates_span_id") && unrouted.contains("text_nulls"))
  }
}
