package graft.validation

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality validation check suite — the engine behind the
  * `validate` CLI command (reference: src/lakehouse/validation/checks.py,
  * cli/commands/validate.py:66).
  *
  * Check families (reference line refs):
  *   - non-empty / required-fields / schema       (checks.py:122-228)
  *   - timestamp nulls / monotonic / negative     (checks.py:231-322)
  *   - text nulls / empties / length stats        (checks.py:325-398)
  *   - ID nulls, PK uniqueness, FK cardinality    (checks.py:401-479)
  *   - referential integrity, incl. DEEP child-ID (checks.py:482-551 —
  *     the reference only null-checks the array column; here orphans are
  *     found for real against the child table's keys)
  *   - numeric NaN / Inf                          (checks.py:554-607)
  *
  * Scale design: the reference runs one pandas pass per check (~20 scans
  * of each table). Here the whole battery, over every table, is ONE
  * query with two exchanges:
  *   1. KEY ENTRIES (space, key, own, refs): one narrow select per key
  *      space a table owns (its primary keys, the parent keys FKs point
  *      at, the child keys ID arrays point at) and one per FK column or
  *      exploded ID array that references a space; one
  *      `groupBy(space, key)` over their union sums them, so only keys
  *      shuffle, typed and without per-row payload;
  *   2. COUNTER ROWS: one select per spec table of its per-row
  *      indicators (null IDs, NaN/Inf, negative/inverted timestamps,
  *      empty text, null child arrays);
  *   3. one global aggregation over the key groups and the counter rows
  *      yields every check's metric: PK duplicate rows are
  *      Σ(owned − 1), orphans the references of groups nobody owns, FK
  *      cardinality the referenced groups, counters their sums.
  * Each select scans only the columns it reads, and all of them run as
  * tasks of the same two stages. Per-key checks whose keys match share a
  * group: utterances' PK and the spans' utterance_ids references are one
  * key space, and orders' PK and lineitem's l_orderkey FK (q49) another.
  * No count_distinct (several distinct aggregates plan an Expand(×k)
  * that multiplies every input row) and no join. A space's references
  * compare with its keys in the type a join would coerce both to; keys
  * shuffle as longs when every key space is integral, else as strings
  * (floating-point keys then compare by their string form, so 0.0 and
  * -0.0 differ).
  *
  * Check rows come back as a DataFrame (table_name, check_name, severity,
  * passed, metric) so downstream gating/reporting is itself relational.
  */
object Validation {

  /** What to validate on one table. Column lists default to
    * schema-driven auto-detection (same heuristics as the reference:
    * `*_id` columns, float/double numerics, start/end time pairs). */
  final case class TableSpec(
      name: String,
      /** Each entry is one primary key, possibly composite. */
      primaryKeys: Seq[Seq[String]] = Nil,
      /** (fkCol, parentName, parentKeyCol): every non-null fkCol value
        * must exist in parent[parentKeyCol]. */
      foreignKeys: Seq[(String, String, String)] = Nil,
      /** (arrayCol, childName, childKeyCol): every element of arrayCol
        * must exist in child[childKeyCol] — deep referential integrity. */
      childArrays: Seq[(String, String, String)] = Nil,
      /** Extra key columns to null-check beyond the `*_id` auto-detection
        * (TPC-H-style names like `o_orderkey` need this). */
      idCols: Seq[String] = Nil)

  val CheckSchema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("check_name", StringType, nullable = false),
    StructField("severity", StringType, nullable = false),
    StructField("passed", BooleanType, nullable = false),
    StructField("metric", LongType, nullable = true)))

  private def idColumns(df: DataFrame): Seq[String] =
    df.columns.toSeq.filter(_.endsWith("_id"))

  private def floatingColumns(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.collect {
      case StructField(n, DoubleType | FloatType, _, _) => n
    }

  private def timeColumns(df: DataFrame): Seq[String] =
    Seq("start_time", "end_time", "start", "end").filter(df.columns.contains)

  private def timePair(df: DataFrame): Option[(String, String)] =
    if (df.columns.contains("start_time") && df.columns.contains("end_time"))
      Some(("start_time", "end_time"))
    else if (df.columns.contains("start") && df.columns.contains("end"))
      Some(("start", "end"))
    else None

  /** One check: its metric over the grouped entries and its pass rule
    * (`orTrue`: a null metric — an empty table's sum — passes). */
  private final case class Check(table: String, name: String, severity: String,
      metric: Column, passed: Column => Column, orTrue: Boolean = false)

  /** One key space: `owner`'s rows hold `key`, of `types` when `owner`
    * is a given table (entries with a null key part are not owned,
    * unless `keepNulls`). */
  private final case class Space(owner: String, key: Seq[Column], types: Seq[DataType],
      keepNulls: Boolean = false)

  /** A reference into a key space: `table`'s non-null `column` values,
    * or every element of an array `column`, of `dataType`, counted in ref
    * slot `slot`. */
  private final case class Ref(table: String, column: String, isArray: Boolean,
      space: Int, slot: Int, dataType: DataType)

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The check battery over `specs` (see the object doc for its shape).
    * `enabled` is each table's routed check-family set (None = run
    * everything); a parent or child named in a spec takes part only when
    * it is in `tables` and is another table. */
  private def battery(tables: Map[String, DataFrame], specs: Seq[TableSpec],
      enabled: Map[String, Option[Set[String]]],
      expectedSchemas: Map[String, StructType]): DataFrame = {
    val spaces = mutable.LinkedHashMap.empty[(String, String), (Int, Space)]
    def space(id: (String, String), make: => Space): Int =
      spaces.getOrElseUpdate(id, (spaces.size, make))._1
    def keySpace(owner: String, cols: Seq[String]): Int =
      space((owner, cols.mkString(",")), Space(owner, cols.map(col),
        tables.get(owner).toSeq.flatMap(df => cols.map(df.schema(_).dataType))))
    val refs = mutable.ArrayBuffer.empty[Ref]
    def ref(table: String, column: String, isArray: Boolean, sp: Int): Ref = {
      val dt = tables(table).schema(column).dataType match {
        case ArrayType(e, _) if isArray => e
        case other => other
      }
      val r = Ref(table, column, isArray, sp, refs.count(_.space == sp), dt)
      refs += r
      r
    }
    // per spec table: its row space and per-row counter indicators
    val counters = mutable.LinkedHashMap.empty[String, (Int, Seq[Column])]
    val checks = mutable.ArrayBuffer.empty[Check]
    val schemaRows = mutable.ArrayBuffer.empty[Row]
    val sp = col("space")
    val own = col("own")
    def refCol(r: Ref): Column = col(s"r${r.slot}")

    specs.foreach { spec =>
      val t = spec.name
      val df = tables(t)
      val on: String => Boolean = f => enabled.getOrElse(t, None).forall(_.contains(f))
      def related(n: String): Boolean = n != t && tables.contains(n)
      val ind = mutable.ArrayBuffer.empty[Column]
      val rowSpace = space((t, ""), Space(t, Nil, Nil))
      def counter(name: String, severity: String, hit: Column, passed: Column => Column,
          orTrue: Boolean = true, orZero: Boolean = false): Unit = {
        val m = sum(when(sp === rowSpace, col(s"c${ind.size}")))
        ind += when(hit, 1L).otherwise(0L)
        checks += Check(t, name, severity, if (orZero) coalesce(m, lit(0L)) else m,
          passed, orTrue)
      }
      val ids =
        if (on("ids")) (idColumns(df) ++ spec.idCols.filter(df.columns.contains)).distinct
        else Nil
      counter("non_empty_table", "error", lit(true), _ > 0, orZero = true)
      ids.foreach(c => counter(s"id_nulls_$c", "error", col(c).isNull, _ === 0))
      if (on("numerics")) floatingColumns(df).foreach { c =>
        counter(s"numeric_nans_$c", "error", isnan(col(c)), _ === 0)
        counter(s"numeric_inf_$c", "error",
          col(c) === Double.PositiveInfinity || col(c) === Double.NegativeInfinity, _ === 0)
      }
      if (on("timestamps")) {
        timeColumns(df).foreach { c =>
          counter(s"timestamp_nulls_$c", "error", col(c).isNull, _ === 0)
          counter(s"timestamp_negative_$c", "error", col(c) < 0, _ === 0)
        }
        timePair(df).foreach { case (s, e) =>
          counter("timestamp_monotonic", "error", col(s) > col(e), _ === 0)
        }
      }
      if (on("text") && df.columns.contains("text")) {
        counter("text_nulls", "error", col("text").isNull, _ === 0)
        counter("text_empty", "warning", length(col("text")) === 0, _ === 0)
      }
      // PK duplicate rows = Σ over owned key groups of (n − 1)
      if (on("duplicates"))
        spec.primaryKeys.filter(_.forall(df.columns.contains)).foreach { pk =>
          val s = keySpace(t, pk)
          checks += Check(t, s"id_duplicates_${pk.mkString("_")}", "error",
            coalesce(sum(when(sp === s && own > 0, own - 1)), lit(0L)), _ === 0)
        }
      def orphans(r: Ref): Column =
        coalesce(sum(when(sp === r.space && own === 0, refCol(r))), lit(0L))
      if (on("referential")) {
        // FK cardinality (info: distinct non-null values) and, against a
        // parent, orphan rows (row-weighted, null FKs excluded)
        spec.foreignKeys.foreach { case (fk, parent, parentKey) =>
          val r = ref(t, fk, isArray = false, keySpace(parent, Seq(parentKey)))
          checks += Check(t, s"id_foreign_key_$fk", "info",
            count(when(sp === r.space && refCol(r) > 0, 1)), _ => lit(true))
          if (related(parent))
            checks += Check(t, s"referential_integrity_$fk", "error", orphans(r), _ === 0)
        }
        // DEEP referential integrity over child-ID arrays (the reference
        // stubs this out with a null test — checks.py:496-498): every
        // element, nulls included, must be a child key; null arrays count
        spec.childArrays.filter(c => related(c._2)).foreach { case (arr, child, childKey) =>
          val r = ref(t, arr, isArray = true, keySpace(child, Seq(childKey)))
          checks += Check(t, s"referential_orphans_$arr", "error", orphans(r), _ === 0)
          counter(s"referential_integrity_$arr", "error", col(arr).isNull, _ === 0,
            orTrue = false)
        }
      } else if (on("id_join_back"))
        // embedding-role tables check their FK rows against the parent
        spec.foreignKeys.filter(f => related(f._2)).foreach { case (fk, parent, parentKey) =>
          val r = ref(t, fk, isArray = false, keySpace(parent, Seq(parentKey)))
          checks += Check(t, s"id_join_back_$fk", "error", orphans(r), _ === 0)
        }
      // V16 dimension consistency, only when explicitly routed: the number
      // of distinct embedding sizes; passes when ≤ 1
      if (enabled.getOrElse(t, None).exists(_.contains("dim_consistency")) &&
          df.columns.contains("embedding")) {
        val s = space((t, "size(embedding)"),
          Space(t, Seq(size(col("embedding"))), Seq(IntegerType), keepNulls = true))
        checks += Check(t, "dim_consistency", "error", count(when(sp === s, 1)), _ <= 1)
      }
      counters(t) = (rowSpace, ind.toSeq)
      // schema compliance is metadata: driver-side rows
      expectedSchemas.get(t).foreach(e => schemaRows ++= schemaCheckRows(df, spec, e))
    }

    // ---- key entries (space, k0.., own, r0..): one select per owned
    // space and per reference. A space's keys and references compare in
    // the type a join would coerce them to (an int FK against a double
    // key compares as double); every key column then shuffles as one
    // type: long when all are integral, else string.
    val keyTypes = spaces.values.collect { case (id, s) if s.key.nonEmpty =>
      id -> (if (s.types.size > 1) s.types
        else Seq(TypeCoercion.findWiderCommonType(s.types ++
          refs.filter(_.space == id).map(_.dataType)).getOrElse(StringType)))
    }.toMap
    val keyType = if (keyTypes.values.flatten.forall(isIntegral)) LongType else StringType
    val keyCols = (0 until (keyTypes.values.map(_.size).toSeq :+ 1).max).map(i => s"k$i")
    val nRefs = (refs.map(_.slot + 1) :+ 0).max
    def entries(df: DataFrame, space: Int, key: Seq[Column], ownN: Long, slot: Int): DataFrame = {
      val k = key.zip(keyTypes(space)).map { case (c, t) => c.cast(t).cast(keyType) }
      df.select((lit(space).as("space") +: keyCols.zipWithIndex.map { case (n, i) =>
          k.lift(i).getOrElse(lit(null).cast(keyType)).as(n) }) ++
        (lit(ownN).as("own") +: (0 until nRefs).map(j => lit(if (j == slot) 1L else 0L).as(s"r$j"))): _*)
    }
    val owned = spaces.values.toSeq.collect {
      case (id, s) if s.key.nonEmpty && tables.contains(s.owner) =>
        val df = tables(s.owner)
        entries(if (s.keepNulls) df else df.filter(s.key.map(_.isNotNull).reduce(_ && _)),
          id, s.key, 1L, -1)
    }
    val referenced = refs.toSeq.map { r =>
      val df = tables(r.table)
      // a null array holds no element; a null element is a reference
      if (r.isArray)
        entries(df.select(explode(col(r.column)).as("_x")), r.space, Seq(col("_x")), 0L, r.slot)
      else entries(df.filter(col(r.column).isNotNull), r.space, Seq(col(r.column)), 0L, r.slot)
    }
    val groups = (owned ++ referenced).reduceOption(_.union(_)).map(
      _.groupBy((sp +: keyCols.map(col)): _*)
        .agg(sum(own).as("own"), (0 until nRefs).map(j => sum(col(s"r$j")).as(s"r$j")): _*)
        .drop(keyCols: _*))
    // ---- counter rows: each spec table's indicators, one row per row ----
    val nCounters = (counters.values.map(_._2.size).toSeq :+ 0).max
    val counted = counters.toSeq.map { case (t, (rowSpace, cs)) =>
      tables(t).select(lit(rowSpace).as("space") +:
        (0 until nCounters).map(i => cs.lift(i).getOrElse(lit(0L)).as(s"c$i")): _*)
    }
    val grouped = (groups.toSeq ++ counted)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val metrics = checks.zipWithIndex.map { case (c, i) => c.metric.cast("long").as(s"m$i") }
    val rows = checks.zipWithIndex.map { case (c, i) =>
      val m = col(s"m$i")
      struct(lit(c.table).as("table_name"), lit(c.name).as("check_name"),
        lit(c.severity).as("severity"),
        (if (c.orTrue) coalesce(c.passed(m), lit(true)) else c.passed(m)).as("passed"),
        m.as("metric"))
    }
    val checked = grouped.agg(metrics.head, metrics.tail.toSeq: _*)
      .select(explode(array(rows.toSeq: _*)).as("c")).select(col("c.*"))
    if (schemaRows.isEmpty) checked
    else checked.unionByName(
      tables.values.head.sparkSession.createDataFrame(schemaRows.asJava, CheckSchema))
  }

  /** The per-row counters and PK duplicate checks of one table (plus
    * FK cardinality when referential checks are on), without any
    * related table — [[battery]] over the table alone. */
  def counterChecks(df: DataFrame, spec: TableSpec,
      enabled: Option[Set[String]] = None): DataFrame =
    battery(Map(spec.name -> df), Seq(spec.copy(childArrays = Nil)),
      Map(spec.name -> enabled.map(_ - "dim_consistency")), Map.empty)

  /** Scalar-FK orphan check: non-null FK values missing from the parent
    * key set, row-weighted. `checkName` defaults to
    * referential_integrity_<fk>. */
  def fkOrphanCheck(child: DataFrame, childName: String, fkCol: String,
      parent: DataFrame, parentKeyCol: String,
      checkName: Option[String] = None): DataFrame = {
    val name = s"id_join_back_$fkCol"
    battery(Map(childName -> child, s"$childName parent" -> parent),
        Seq(TableSpec(childName, foreignKeys = Seq((fkCol, s"$childName parent", parentKeyCol)))),
        Map(childName -> Some(Set("id_join_back"))), Map.empty)
      .filter(col("check_name") === name)
      .withColumn("check_name",
        lit(checkName.getOrElse(s"referential_integrity_$fkCol")))
  }

  /** DEEP referential integrity over a child-ID array column: elements
    * missing from the child table's key (referential_orphans_<arr>) and
    * null arrays (referential_integrity_<arr>). */
  def childArrayOrphanCheck(parent: DataFrame, parentName: String, arrayCol: String,
      child: DataFrame, childKeyCol: String): DataFrame =
    battery(Map(parentName -> parent, s"$parentName child" -> child),
        Seq(TableSpec(parentName,
          childArrays = Seq((arrayCol, s"$parentName child", childKeyCol)))),
        Map(parentName -> Some(Set("referential"))), Map.empty)
      .filter(col("check_name").isin(
        s"referential_orphans_$arrayCol", s"referential_integrity_$arrayCol"))

  /** Strip nullability (and array/map containsNull) recursively: parquet
    * round-trips everything back nullable, and the reference's schema
    * check tolerates that (schemas.py:158-163) — only SHAPE mismatches
    * are violations. */
  private def shapeOf(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(shapeOf(e), containsNull = true)
    case MapType(k, v, _) => MapType(shapeOf(k), shapeOf(v), valueContainsNull = true)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = shapeOf(f.dataType), nullable = true)))
    case other => other
  }

  /** Schema compliance: required fields present with compatible types
    * (checks.py:150-228). Driver-side — schemas are metadata. */
  def schemaChecks(df: DataFrame, spec: TableSpec, expected: StructType): DataFrame =
    df.sparkSession.createDataFrame(schemaCheckRows(df, spec, expected).asJava, CheckSchema)

  private def schemaCheckRows(df: DataFrame, spec: TableSpec, expected: StructType): Seq[Row] = {
    val actual = df.schema.fields.map(f => f.name -> shapeOf(f.dataType)).toMap
    val missing = expected.fields.count(f => !actual.contains(f.name))
    val mistyped = expected.fields.count(f =>
      actual.get(f.name).exists(_ != shapeOf(f.dataType)))
    Seq(
      Row(spec.name, "required_fields", "error", missing == 0, missing.toLong),
      Row(spec.name, "schema_compliance", "error", mistyped == 0, mistyped.toLong))
  }

  /** Full check suite for one table (against its related tables).
    * `enabled` is the routed check-family set (None = run everything):
    * families are ids/numerics/timestamps/text/duplicates/referential
    * for base tables and dim_consistency/id_join_back for embedding
    * tables (F12; config/validator_routing.yaml's per-role lists). */
  def validateTable(df: DataFrame, spec: TableSpec,
      related: Map[String, DataFrame] = Map.empty,
      expectedSchema: Option[StructType] = None,
      enabled: Option[Set[String]] = None): DataFrame =
    battery(related + (spec.name -> df), Seq(spec), Map(spec.name -> enabled),
      expectedSchema.map(spec.name -> _).toMap)

  /** Validate a set of tables against their specs; FK/child references
    * resolve within the set. Rows come back unordered: one action runs
    * the whole battery. With `routing`, each table runs only the checks
    * its role enables (unrouted tables run everything, like the
    * reference). */
  def checks(tables: Map[String, DataFrame], specs: Seq[TableSpec],
      expectedSchemas: Map[String, StructType] = Map.empty,
      routing: Option[graft.quality.Guardrails.Routing] = None): DataFrame =
    battery(tables, specs,
      specs.map(s => s.name -> routing.flatMap(_.tableChecks(s.name))).toMap,
      expectedSchemas)

  /** [[checks]], deterministically ordered by table and check name. */
  def validateAll(tables: Map[String, DataFrame], specs: Seq[TableSpec],
      expectedSchemas: Map[String, StructType] = Map.empty,
      routing: Option[graft.quality.Guardrails.Routing] = None): DataFrame =
    checks(tables, specs, expectedSchemas, routing).orderBy("table_name", "check_name")

  /** The lakehouse's own artifact tables wired with their PK/FK/child-array
    * constraints (schemas.py:12-93; ids are C3's deterministic IDs). */
  def lakehouseSpecs: Seq[TableSpec] = Seq(
    TableSpec("utterances", primaryKeys = Seq(Seq("utterance_id"))),
    TableSpec("spans",
      primaryKeys = Seq(Seq("span_id")),
      foreignKeys = Seq(("episode_id", "utterances", "episode_id")),
      childArrays = Seq(("utterance_ids", "utterances", "utterance_id"))),
    TableSpec("beats",
      primaryKeys = Seq(Seq("beat_id")),
      childArrays = Seq(("span_ids", "spans", "span_id"))),
    TableSpec("sections",
      primaryKeys = Seq(Seq("section_id")),
      childArrays = Seq(("beat_ids", "beats", "beat_id"))),
    TableSpec("embeddings", primaryKeys = Seq(Seq("artifact_id"))))

  /** Summary counts (reference ValidationReport.summary, checks.py:98-119). */
  final case class Summary(total: Long, passed: Long, failed: Long, errors: Long,
      warnings: Long)

  object Summary {
    /** The counts over check rows already on the driver. */
    def of(rows: Seq[Row]): Summary = {
      def n(p: Row => Boolean): Long = rows.count(p).toLong
      val failed = (r: Row) => !r.getAs[Boolean]("passed")
      Summary(rows.size.toLong, n(r => !failed(r)), n(failed),
        n(r => failed(r) && r.getAs[String]("severity") == "error"),
        n(r => failed(r) && r.getAs[String]("severity") == "warning"))
    }
  }

  /** [[Summary.of]] the collected check rows, as a local one-row frame
    * (total_checks, passed_checks, failed_checks, errors, warnings). */
  def summarize(checks: DataFrame): DataFrame = {
    val s = Summary.of(checks.collect().toSeq)
    checks.sparkSession.createDataFrame(
      Seq(Row(s.total, s.passed, s.failed, s.errors, s.warnings)).asJava,
      StructType(Seq("total_checks", "passed_checks", "failed_checks", "errors", "warnings")
        .map(StructField(_, LongType, nullable = false))))
  }
}
