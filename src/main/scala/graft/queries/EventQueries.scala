package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Intervals, Sessionize, Stats}

/** Driver queries over the event stream and the TPC-H tables: catalogs,
  * sessions, intervals, distributions, joins, windows, cohorts and the
  * validation battery. Each body sits beside the DuckDB SQL that
  * [[Registry]] checks it against. */
object EventQueries {

  private val GapUs: Long = 600L * 1000 * 1000 // 600 s session gap

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact sum of a 2-decimal quantity, surfaced as double. */
  private def dsum(c: Column): Column = sum(dec2(c)).cast("double")

  /** events with integer-us interval [s_us, e_us), e = s + floor(value*1e6). */
  private def eventIntervals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("user_id"), col("event_id"), col("event_type"),
      col("ts").as("s_us"),
      (col("ts") + floor(col("value") * lit(1e6)).cast("long")).as("e_us"))

  /** Session rollup without the output ordering — shared by [[sessions]]
    * (which presents it sorted) and [[sessionStats]] (a global aggregate,
    * where a total sort would be pure waste). */
  private def sessionAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    Sessionize.withSessions(e, Seq("user_id"), "ts", Seq("event_id"),
        GapUs, changeCols = Seq("event_type"))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("start_us"),
        max(col("ts")).as("end_us"),
        min(col("event_type")).as("event_type"), // constant within session
        dsum(col("value")).as("total_value"))
  }

  /** A1-style grouped pricing summary (SURVEY §2.4 A1; TPC-H Q1 shape). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A1 entity catalog: per-user event rollup with sorted distinct list
    * (reference episode catalog, catalogs/episodes.py:106-121). */
  def entityCatalog(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("ts")).as("first_ts_us"),
        max(col("ts")).as("last_ts_us"),
        concat_ws(",", array_sort(collect_set(col("event_type")))).as("type_list"),
        dsum(col("value")).as("total_value"))
      .orderBy("user_id")

  val entityCatalogSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  count(DISTINCT event_type) AS n_types,
      |  min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us,
      |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS type_list,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A2 activity catalog: per-event-type rollup (catalogs/speakers.py:61-75). */
  def activityCatalog(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"),
        (dsum(col("value")) / count(lit(1))).as("avg_value"),
        min(col("ts")).as("first_ts_us"),
        max(col("ts")).as("last_ts_us"))
      .orderBy("event_type")

  val activityCatalogSql: String =
    """SELECT event_type,
      |  count(DISTINCT user_id) AS n_users, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
      |  min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** G1 sessionization: break on >600s gap or event_type change
    * (aggregation/spans.py:113-249 re-expressed as gaps-and-islands). */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    sessionAgg(spark, dir).orderBy("user_id", "session_seq")

  /** q04/q28's sessionization in SQL over an `e(event_id, ts, user_id,
    * event_type, …)` CTE: a break on a > 600 s gap or a type change,
    * numbered per user as `s.session_seq`. Ends inside `s`. */
  private val sessionSeqCtes: String =
    """l AS (
      |  SELECT *, lag(ts) OVER w AS prev_ts, lag(event_type) OVER w AS prev_type
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), b AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > 600000000
      |    OR event_type <> prev_type THEN 1 ELSE 0 END AS brk FROM l
      |), s AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM b""".stripMargin

  val sessionsSql: String =
    s"""WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value FROM events
      |), $sessionSeqCtes
      |)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  min(ts) AS start_us, max(ts) AS end_us,
      |  min(event_type) AS event_type,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin

  /** A7/A8 interval union coverage per user (coverage.py:19-80). */
  def intervalUnion(spark: SparkSession, dir: String): DataFrame =
    Intervals.unionDuration(eventIntervals(spark, dir), Seq("user_id"), "s_us", "e_us",
        unionCol = "union_us", nIslandsCol = "n_islands")
      .orderBy("user_id")

  val intervalUnionSql: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
      |  FROM events
      |), m AS (
      |  SELECT *, max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM iv
      |), b AS (
      |  SELECT *, CASE WHEN prev_max IS NULL OR s_us > prev_max THEN 1 ELSE 0 END AS brk FROM m
      |), g AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY s_us, e_us
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island FROM b
      |), isl AS (
      |  SELECT user_id, island, min(s_us) AS s, max(e_us) AS e FROM g GROUP BY user_id, island
      |)
      |SELECT user_id, CAST(sum(e - s) AS BIGINT) AS union_us, count(*) AS n_islands
      |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A9/A10 gap statistics per user (coverage.py:336-372, integrity.py:26-151). */
  def gapStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.withColumn("gap_us", col("ts") - lag(col("ts"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_us")).as("total_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(when(col("gap_us") > GapUs, 1L).otherwise(0L)).as("n_large_gaps"))
      .orderBy("user_id")
  }

  val gapStatsSql: String =
    """WITH l AS (
      |  SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) OVER
      |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events
      |)
      |SELECT user_id, count(*) AS n_gaps,
      |  CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
      |  max(gap_us) AS max_gap_us,
      |  CAST(sum(CASE WHEN gap_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large_gaps
      |FROM l WHERE gap_us IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A4 distribution stats with exact percentiles (distribution.py:19-108). */
  def valueStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        min(col("l_quantity")).as("min_v"),
        max(col("l_quantity")).as("max_v"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_v"),
        round(percentile(col("l_quantity"), lit(0.05)), 6).as("p05"),
        round(percentile(col("l_quantity"), lit(0.5)), 6).as("p50"),
        round(percentile(col("l_quantity"), lit(0.95)), 6).as("p95"),
        round(stddev_samp(col("l_quantity")), 6).as("std_v"))
      .orderBy("l_returnflag")
  }

  val valueStatsSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  min(l_quantity) AS min_v, max(l_quantity) AS max_v,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v,
      |  round(quantile_cont(l_quantity, 0.05), 6) AS p05,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      |  round(quantile_cont(l_quantity, 0.95), 6) AS p95,
      |  round(stddev_samp(l_quantity), 6) AS std_v
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A6 fixed-edge histogram of event values (distribution.py:218-319). */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Stats.histogram(Tables.events(spark, dir), col("value"),
        Seq(0.0, 10.0, 25.0, 50.0, 100.0, 200.0))
      .orderBy("bin_id")

  val valueHistogramSql: String =
    """WITH b AS (
      |  SELECT CASE WHEN value < 0.0 THEN -1 WHEN value < 10.0 THEN 0
      |    WHEN value < 25.0 THEN 1 WHEN value < 50.0 THEN 2
      |    WHEN value < 100.0 THEN 3 WHEN value < 200.0 THEN 4
      |    ELSE 5 END AS bin_id FROM events
      |), g AS (
      |  SELECT bin_id, count(*) AS n FROM b GROUP BY bin_id
      |)
      |SELECT bin_id, n, round(100.0 * n / sum(n) OVER (), 4) AS pct
      |FROM g ORDER BY bin_id""".stripMargin

  /** A14 per-user share + top-10 ranking (balance.py:18-208, W3).
    * No global window: an empty-partition window funnels every user into
    * ONE task. The corpus total rides along as a 1-row broadcast, the
    * top-10 is a distributed TakeOrderedAndProject, and only the 10
    * surviving rows are numbered. */
  def userShare(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir).groupBy("user_id").agg(count(lit(1)).as("n"))
    val total = broadcast(counts.agg(sum(col("n")).as("_total")))
    val top = counts.crossJoin(total)
      .withColumn("pct", round(lit(100.0) * col("n") / col("_total"), 4))
      .orderBy(col("n").desc, col("user_id")).limit(10)
    top.withColumn("rnk", row_number().over(Window.orderBy(col("n").desc, col("user_id"))))
      .select("user_id", "n", "pct", "rnk")
      .orderBy("rnk")
  }

  val userShareSql: String =
    """WITH c AS (
      |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
      |), r AS (
      |  SELECT user_id, n, round(100.0 * n / sum(n) OVER (), 4) AS pct,
      |    CAST(row_number() OVER (ORDER BY n DESC, user_id) AS INTEGER) AS rnk
      |  FROM c
      |)
      |SELECT user_id, n, pct, rnk FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin

  /** J1 dimension enrichment via broadcast joins (balance.py:295-299). */
  def regionRollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_customers"),
        countDistinct(col("n_name")).as("n_nations"),
        dsum(col("c_acctbal")).as("total_acctbal"),
        (dsum(col("c_acctbal")) / count(lit(1))).as("avg_acctbal"))
      .orderBy("r_name")
  }

  val regionRollupSql: String =
    """SELECT r_name, count(*) AS n_customers,
      |  count(DISTINCT n_name) AS n_nations,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** J5/E2 anti-join: customers with no orders (ingest.py:219-295 shape). */
  def custWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_custkey"))
      .orderBy("c_mktsegment")
  }

  val custWithoutOrdersSql: String =
    """SELECT c_mktsegment, count(*) AS n, min(c_custkey) AS min_custkey
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** J7 semi-join: customers that do have orders, rolled up by nation. */
  def custWithOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  val custWithOrdersSql: String =
    """SELECT n_name, count(*) AS n_customers
      |FROM customer c JOIN nation ON c_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** J8 pairwise interval overlaps per user (coverage.py:374-427). */
  /** J8 interval-overlap pair counts per user — BANDED range join
    * ([[graft.operators.Intervals.overlapPairCountsBanded]]): candidates
    * from an equi-join on (user, time band), so a hot user spreads over
    * its time axis instead of one quadratic reducer. Band width ≈ the
    * p95 interval length (150 s) keeps per-interval fan-out ≈ 2. */
  def overlapPairs(spark: SparkSession, dir: String): DataFrame =
    Intervals.overlapPairCountsBanded(eventIntervals(spark, dir),
        Seq("user_id"), "s_us", "e_us", "event_id", bandWidth = 150e6)
      .orderBy("user_id")

  val overlapPairsSql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
      |  FROM events
      |)
      |SELECT a.user_id AS user_id, count(*) AS n_overlap_pairs
      |FROM iv a JOIN iv b ON a.user_id = b.user_id
      |  AND a.event_id < b.event_id AND a.s_us < b.e_us AND b.s_us < a.e_us
      |GROUP BY a.user_id ORDER BY user_id""".stripMargin

  /** A21/A22 segment statistics over generated sessions (children per
    * parent, duration stats, in-range %). */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    val s = sessionAgg(spark, dir)
      .withColumn("dur_us", col("end_us") - col("start_us"))
    s.agg(
      count(lit(1)).as("n_sessions"),
      countDistinct(col("user_id")).as("n_users"),
      sum(col("n_events")).as("total_events"),
      (sum(col("n_events")).cast("double") / count(lit(1))).as("events_per_session"),
      max(col("dur_us")).as("max_dur_us"),
      round(lit(100.0) * sum(when(col("dur_us") <= 600L * 1000 * 1000, 1).otherwise(0))
        / count(lit(1)), 4).as("within_10min_pct"))
  }

  val sessionStatsSql: String =
    s"""WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS ts, user_id, event_type FROM events
      |), $sessionSeqCtes
      |), sess AS (
      |  SELECT user_id, session_seq, count(*) AS n_events,
      |    max(ts) - min(ts) AS dur_us
      |  FROM s GROUP BY user_id, session_seq
      |)
      |SELECT count(*) AS n_sessions, count(DISTINCT user_id) AS n_users,
      |  CAST(sum(n_events) AS BIGINT) AS total_events,
      |  CAST(CAST(sum(n_events) AS BIGINT) AS DOUBLE) / count(*) AS events_per_session,
      |  max(dur_us) AS max_dur_us,
      |  round(100.0 * sum(CASE WHEN dur_us <= 600000000 THEN 1 ELSE 0 END) / count(*), 4) AS within_10min_pct
      |FROM sess""".stripMargin

  /** V7 deterministic stratified sampling: 3 rows per (user bucket,
    * event_type) stratum by hash order — the reproducible analog of the
    * reference's seeded numpy sampling (embedding.py:186-307). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("bucket", pmod(col("user_id"), lit(10)).cast("int"))
    // LCG scramble as the deterministic "random" order — replicable in
    // any engine with 64-bit integer arithmetic (unlike xxhash64)
    val scramble = (col("event_id") * lit(1103515245L) + lit(12345L)) % lit(2147483647L)
    val w = Window.partitionBy("bucket", "event_type")
      .orderBy(scramble, col("event_id"))
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_sampled"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("event_id")).as("min_event_id"))
      .orderBy("bucket")
  }

  val stratifiedSampleSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    CAST(user_id % 10 AS INTEGER) AS bucket,
      |    (event_id * 1103515245 + 12345) % 2147483647 AS scramble
      |  FROM events
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY bucket, event_type
      |    ORDER BY scramble, event_id) AS rn FROM e
      |)
      |SELECT bucket, count(*) AS n_sampled,
      |  count(DISTINCT event_type) AS n_types,
      |  min(event_id) AS min_event_id
      |FROM r WHERE rn <= 3 GROUP BY bucket ORDER BY bucket""".stripMargin

  /** C16/V10 correlation: Pearson + Spearman (corr of ranks) per flag. */
  def correlations(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val wQ = Window.partitionBy("l_returnflag").orderBy("l_quantity", "l_orderkey", "l_linenumber")
    val wP = Window.partitionBy("l_returnflag").orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    li.withColumn("rq", row_number().over(wQ).cast("double"))
      .withColumn("rp", row_number().over(wP).cast("double"))
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("pearson"),
        round(corr(col("rq"), col("rp")), 6).as("spearman"))
      .orderBy("l_returnflag")
  }

  val correlationsSql: String =
    """WITH r AS (
      |  SELECT l_returnflag, l_quantity, l_extendedprice,
      |    CAST(row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS DOUBLE) AS rq,
      |    CAST(row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS DOUBLE) AS rp
      |  FROM lineitem
      |)
      |SELECT l_returnflag,
      |  round(corr(l_quantity, l_extendedprice), 6) AS pearson,
      |  round(corr(rq, rp), 6) AS spearman
      |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** J9 temporal-adjacency join: per user, events with a neighbor within
    * a tolerance (equi on user + range predicate — the band-join shape;
    * the reference uses ±5s on speech, we use ±1h on this event corpus). */
  def adjacencyCounts(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"), col("event_id"), col("ts"))
    val tolUs = 3600L * 1000 * 1000
    // RANGE-frame window instead of the band self-join: one sorted pass
    // per user (two-pointer frame) counts each event's in-tolerance
    // neighbors, so cost is O(n log n + Σ neighbors) rather than the
    // join's O(n·k) row materialization. event_id is unique, so
    // "count(DISTINCT a.event_id)" degenerates to "events with ≥1
    // neighbor", and ordered-pair count = Σ (frame size − 1).
    val w = Window.partitionBy("user_id").orderBy(col("ts"))
      .rangeBetween(-tolUs, tolUs)
    e.withColumn("n_nbr", count(lit(1)).over(w) - 1)
      .groupBy("user_id")
      .agg(
        sum(when(col("n_nbr") > 0, 1L).otherwise(0L)).as("n_with_neighbor"),
        sum(col("n_nbr")).as("n_adjacent_pairs"))
      .filter(col("n_adjacent_pairs") > 0) // join shape emits no row for pairless users
      .orderBy("user_id")
  }

  val adjacencyCountsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
      |)
      |SELECT a.user_id AS user_id,
      |  count(DISTINCT a.event_id) AS n_with_neighbor,
      |  count(*) AS n_adjacent_pairs
      |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id <> b.event_id
      |  AND abs(a.ts - b.ts) <= 3600000000
      |GROUP BY a.user_id ORDER BY user_id""".stripMargin

  /** Rollup aggregation (engine capability beyond the reference's flat
    * GROUP BYs; A1 family at multiple grains). */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val rollupSummarySql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** W2 running/windowed aggregates: cumulative sum + 5-row moving average
    * per user over event time. Output limited to 2 users for compactness. */
  def runningAggregates(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).filter(col("user_id") < 2)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e.withColumn("running_total",
        sum(dec2(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .withColumn("moving_avg",
        (sum(dec2(col("value"))).over(w.rowsBetween(-4, 0)).cast("double")
          / count(lit(1)).over(w.rowsBetween(-4, 0))))
      .select("user_id", "event_id", "ts", "running_total", "moving_avg")
      .orderBy("user_id", "ts", "event_id")
  }

  val runningAggregatesSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts, value
      |  FROM events WHERE user_id < 2
      |)
      |SELECT user_id, event_id, ts,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_avg
      |FROM e ORDER BY user_id, ts, event_id""".stripMargin

  /** F2/F3 validity split: first-match rule classification with the
    * error taxonomy as rows, not exceptions (validator.py:171-342).
    * At scale this is the one-pass variant of "filter valid + collect
    * errors": a single scan feeds both consumers. */
  def validationSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("rule",
        when(col("l_quantity") <= 0, "bad_quantity")
          .when(col("l_discount") > 0.08, "high_discount")
          .when(col("l_tax") > 0.06, "high_tax")
          .when(col("l_shipdate").isNull, "missing_shipdate")
          .otherwise("valid"))
      .groupBy("rule")
      .agg(
        count(lit(1)).as("n"),
        min(col("l_orderkey")).as("min_orderkey"),
        dsum(col("l_extendedprice")).as("total_price"))
      .orderBy("rule")

  val validationSplitSql: String =
    """WITH c AS (
      |  SELECT *, CASE WHEN l_quantity <= 0 THEN 'bad_quantity'
      |    WHEN l_discount > 0.08 THEN 'high_discount'
      |    WHEN l_tax > 0.06 THEN 'high_tax'
      |    WHEN l_shipdate IS NULL THEN 'missing_shipdate'
      |    ELSE 'valid' END AS rule FROM lineitem
      |)
      |SELECT rule, count(*) AS n, min(l_orderkey) AS min_orderkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM c GROUP BY rule ORDER BY rule""".stripMargin

  /** A10 timestamp monotonicity: per-user interval regressions where the
    * previous interval's end overruns the next start
    * (integrity.py:26-151). */
  def monotonicity(spark: SparkSession, dir: String): DataFrame = {
    val iv = eventIntervals(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("s_us"), col("e_us"), col("event_id"))
    iv.withColumn("prev_e", lag(col("e_us"), 1).over(w))
      .withColumn("reg", when(col("prev_e") > col("s_us"), 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("reg")).as("n_regressions"),
        round(lit(100.0) * sum(col("reg")) / count(lit(1)), 4).as("regression_pct"))
      .filter(col("n_regressions") > 0)
      .orderBy("user_id")
  }

  val monotonicitySql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
      |  FROM events
      |), l AS (
      |  SELECT user_id,
      |    lag(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id) AS prev_e,
      |    s_us
      |  FROM iv
      |), r AS (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(sum(CASE WHEN prev_e > s_us THEN 1 ELSE 0 END) AS BIGINT) AS n_regressions
      |  FROM l GROUP BY user_id
      |)
      |SELECT user_id, n_events, n_regressions,
      |  round(100.0 * n_regressions / n_events, 4) AS regression_pct
      |FROM r WHERE n_regressions > 0 ORDER BY user_id""".stripMargin

  /** C9-family date handling: orders rolled up by calendar year. */
  def dateRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        dsum(col("o_totalprice")).as("total_price"),
        (dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
      .orderBy("order_year")

  val dateRollupSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin

  /** A20 weighted share: fraction of quantity contributed by returned
    * lines per linestatus (speaker_roles.py:344-420's token-weighted
    * expert coverage, re-keyed). */
  def weightedShare(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("total_qty"),
        sum(when(col("l_returnflag") === "R", dec2(col("l_quantity"))).otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double").as("returned_qty"))
      .withColumn("returned_share", col("returned_qty") / col("total_qty"))
      .orderBy("l_linestatus")

  val weightedShareSql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2))
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS returned_qty,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2))
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS returned_share
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** E4 order-preserving dedup: each user's distinct event types in
    * first-occurrence order (speaker_roles.py:323-329's speakers_set). */
  def typeSequence(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(min(col("ts")).as("first_ts"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_types"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("first_ts"), col("event_type")))),
          s => s.getField("event_type"))).as("type_seq"))
      .orderBy("user_id")

  val typeSequenceSql: String =
    """WITH f AS (
      |  SELECT user_id, event_type, min(epoch_us(ts)) AS first_ts
      |  FROM events GROUP BY user_id, event_type
      |)
      |SELECT user_id, count(*) AS n_types,
      |  string_agg(event_type, ',' ORDER BY first_ts, event_type) AS type_seq
      |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin

  /** As-of join (window formulation): each purchase matched to the most
    * recent click at-or-before it, per user. The classic union+running-max
    * shape — one sort, no join blowup, the scalable way to do as-of at
    * 100 TB (beyond the reference, which has no as-of operator). */
  def asofLag(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    // at equal ts, clicks sort before purchases so "at-or-before" holds
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), when(col("event_type") === "click", 0).otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("last_click", max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_purchases"),
        count(col("last_click")).as("n_matched"),
        sum(col("ts") - col("last_click")).as("total_lag_us"),
        max(col("ts") - col("last_click")).as("max_lag_us"))
      .orderBy("user_id")
  }

  val asofLagSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), m AS (
      |  SELECT *, max(CASE WHEN event_type = 'click' THEN ts END) OVER (
      |    PARTITION BY user_id
      |    ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
      |    ROWS UNBOUNDED PRECEDING) AS last_click
      |  FROM e
      |)
      |SELECT user_id, count(*) AS n_purchases,
      |  count(last_click) AS n_matched,
      |  CAST(sum(ts - last_click) AS BIGINT) AS total_lag_us,
      |  max(ts - last_click) AS max_lag_us
      |FROM m WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** CUBE aggregation: all grain combinations of (returnflag, linestatus)
    * (engine capability beyond the reference's flat GROUP BYs). */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val cubeSummarySql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Relational pivot: per user-bucket counts of each event type as
    * columns (Spark's groupBy.pivot with an explicit value list, so no
    * extra distinct-values job runs). */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(spark, dir)
      .withColumn("bucket", pmod(col("user_id"), lit(10)).cast("int"))
      .groupBy("bucket")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy("bucket")
  }

  val pivotCountsSql: String =
    """SELECT CAST(user_id % 10 AS INTEGER) AS bucket,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  /** ntile quartiles of event values per type: the frame-free ranking
    * window the reference never needed but an analytics engine must have. */
  def valueQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    e.withColumn("q", ntile(4).over(w))
      .groupBy("event_type", "q")
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        dsum(col("value")).as("sum_v"))
      .orderBy("event_type", "q")
  }

  val valueQuartilesSql: String =
    """WITH t AS (
      |  SELECT event_type, event_id, value,
      |    CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INTEGER) AS q
      |  FROM events
      |)
      |SELECT event_type, q, count(*) AS n,
      |  min(value) AS min_v, max(value) AS max_v,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM t GROUP BY event_type, q ORDER BY event_type, q""".stripMargin

  /** JSON property extraction: stats over a JSON-string column (S2's
    * schemaless-payload handling — metadata keys survive as JSON). */
  def jsonStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"))
      .orderBy("event_type")

  val jsonStatsSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
      |)
      |SELECT event_type, count(*) AS n, count(k) AS n_with_k,
      |  min(k) AS min_k, max(k) AS max_k,
      |  CAST(sum(k) AS DOUBLE) / count(k) AS avg_k
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Validation check suite (F9/F10/F6): PK uniqueness, null keys, FK
    * cardinality + orphan detection, NaN/Inf — the whole battery as ONE
    * query with two exchanges, per-key checks sharing one keyed
    * aggregation ([[graft.validation.Validation]]; reference
    * checks.py:401-607). */
  def validationChecks(spark: SparkSession, dir: String): DataFrame = {
    import graft.validation.Validation
    import graft.validation.Validation.TableSpec
    val specs = Seq(
      TableSpec("orders",
        primaryKeys = Seq(Seq("o_orderkey")),
        foreignKeys = Seq(("o_custkey", "customer", "c_custkey")),
        idCols = Seq("o_orderkey", "o_custkey")),
      TableSpec("lineitem",
        primaryKeys = Seq(Seq("l_orderkey", "l_linenumber")),
        foreignKeys = Seq(("l_orderkey", "orders", "o_orderkey")),
        idCols = Seq("l_orderkey")),
      TableSpec("events", primaryKeys = Seq(Seq("event_id"))))
    val tables = Map(
      "orders" -> Tables.orders(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir),
      "events" -> Tables.events(spark, dir),
      "customer" -> Tables.customer(spark, dir))
    Validation.validateAll(tables, specs)
  }

  val validationChecksSql: String =
    """WITH o AS (
      |  SELECT count(*) AS n_rows,
      |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS id_nulls_okey,
      |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS id_nulls_ckey,
      |    count(o_orderkey) - count(DISTINCT o_orderkey) AS dup_okey,
      |    count(DISTINCT o_custkey) AS fk_card_ckey,
      |    sum(CASE WHEN isnan(o_totalprice) THEN 1 ELSE 0 END) AS nan_tp,
      |    sum(CASE WHEN isinf(o_totalprice) THEN 1 ELSE 0 END) AS inf_tp
      |  FROM orders
      |), l AS (
      |  SELECT count(*) AS n_rows,
      |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS id_nulls_okey,
      |    count(CASE WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL THEN 1 END)
      |      - count(DISTINCT (l_orderkey, l_linenumber)) AS dup_pk,
      |    count(DISTINCT l_orderkey) AS fk_card_okey,
      |    sum(CASE WHEN isnan(l_quantity) THEN 1 ELSE 0 END) AS nan_qty,
      |    sum(CASE WHEN isinf(l_quantity) THEN 1 ELSE 0 END) AS inf_qty,
      |    sum(CASE WHEN isnan(l_extendedprice) THEN 1 ELSE 0 END) AS nan_ep,
      |    sum(CASE WHEN isinf(l_extendedprice) THEN 1 ELSE 0 END) AS inf_ep,
      |    sum(CASE WHEN isnan(l_discount) THEN 1 ELSE 0 END) AS nan_disc,
      |    sum(CASE WHEN isinf(l_discount) THEN 1 ELSE 0 END) AS inf_disc,
      |    sum(CASE WHEN isnan(l_tax) THEN 1 ELSE 0 END) AS nan_tax,
      |    sum(CASE WHEN isinf(l_tax) THEN 1 ELSE 0 END) AS inf_tax
      |  FROM lineitem
      |), e AS (
      |  SELECT count(*) AS n_rows,
      |    sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS id_nulls_eid,
      |    sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS id_nulls_uid,
      |    count(event_id) - count(DISTINCT event_id) AS dup_eid,
      |    sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END) AS nan_val,
      |    sum(CASE WHEN isinf(value) THEN 1 ELSE 0 END) AS inf_val
      |  FROM events
      |), orph_o AS (
      |  SELECT count(*) AS m FROM orders oo
      |  WHERE oo.o_custkey IS NOT NULL
      |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = oo.o_custkey)
      |), orph_l AS (
      |  SELECT count(*) AS m FROM lineitem li
      |  WHERE li.l_orderkey IS NOT NULL
      |    AND NOT EXISTS (SELECT 1 FROM orders oo WHERE oo.o_orderkey = li.l_orderkey)
      |), checks AS (
      |  SELECT 'orders' AS table_name, 'non_empty_table' AS check_name, 'error' AS severity, n_rows > 0 AS passed, n_rows AS metric FROM o
      |  UNION ALL SELECT 'orders', 'id_nulls_o_orderkey', 'error', id_nulls_okey = 0, id_nulls_okey FROM o
      |  UNION ALL SELECT 'orders', 'id_nulls_o_custkey', 'error', id_nulls_ckey = 0, id_nulls_ckey FROM o
      |  UNION ALL SELECT 'orders', 'id_duplicates_o_orderkey', 'error', dup_okey = 0, dup_okey FROM o
      |  UNION ALL SELECT 'orders', 'id_foreign_key_o_custkey', 'info', TRUE, fk_card_ckey FROM o
      |  UNION ALL SELECT 'orders', 'numeric_nans_o_totalprice', 'error', nan_tp = 0, nan_tp FROM o
      |  UNION ALL SELECT 'orders', 'numeric_inf_o_totalprice', 'error', inf_tp = 0, inf_tp FROM o
      |  UNION ALL SELECT 'orders', 'referential_integrity_o_custkey', 'error', m = 0, m FROM orph_o
      |  UNION ALL SELECT 'lineitem', 'non_empty_table', 'error', n_rows > 0, n_rows FROM l
      |  UNION ALL SELECT 'lineitem', 'id_nulls_l_orderkey', 'error', id_nulls_okey = 0, id_nulls_okey FROM l
      |  UNION ALL SELECT 'lineitem', 'id_duplicates_l_orderkey_l_linenumber', 'error', dup_pk = 0, dup_pk FROM l
      |  UNION ALL SELECT 'lineitem', 'id_foreign_key_l_orderkey', 'info', TRUE, fk_card_okey FROM l
      |  UNION ALL SELECT 'lineitem', 'numeric_nans_l_quantity', 'error', nan_qty = 0, nan_qty FROM l
      |  UNION ALL SELECT 'lineitem', 'numeric_inf_l_quantity', 'error', inf_qty = 0, inf_qty FROM l
      |  UNION ALL SELECT 'lineitem', 'numeric_nans_l_extendedprice', 'error', nan_ep = 0, nan_ep FROM l
      |  UNION ALL SELECT 'lineitem', 'numeric_inf_l_extendedprice', 'error', inf_ep = 0, inf_ep FROM l
      |  UNION ALL SELECT 'lineitem', 'numeric_nans_l_discount', 'error', nan_disc = 0, nan_disc FROM l
      |  UNION ALL SELECT 'lineitem', 'numeric_inf_l_discount', 'error', inf_disc = 0, inf_disc FROM l
      |  UNION ALL SELECT 'lineitem', 'numeric_nans_l_tax', 'error', nan_tax = 0, nan_tax FROM l
      |  UNION ALL SELECT 'lineitem', 'numeric_inf_l_tax', 'error', inf_tax = 0, inf_tax FROM l
      |  UNION ALL SELECT 'lineitem', 'referential_integrity_l_orderkey', 'error', m = 0, m FROM orph_l
      |  UNION ALL SELECT 'events', 'non_empty_table', 'error', n_rows > 0, n_rows FROM e
      |  UNION ALL SELECT 'events', 'id_nulls_event_id', 'error', id_nulls_eid = 0, id_nulls_eid FROM e
      |  UNION ALL SELECT 'events', 'id_nulls_user_id', 'error', id_nulls_uid = 0, id_nulls_uid FROM e
      |  UNION ALL SELECT 'events', 'id_duplicates_event_id', 'error', dup_eid = 0, dup_eid FROM e
      |  UNION ALL SELECT 'events', 'numeric_nans_value', 'error', nan_val = 0, nan_val FROM e
      |  UNION ALL SELECT 'events', 'numeric_inf_value', 'error', inf_val = 0, inf_val FROM e
      |)
      |SELECT table_name, check_name, severity, passed, CAST(metric AS BIGINT) AS metric
      |FROM checks ORDER BY table_name, check_name""".stripMargin

  /** X47 weekly cohort retention over the event stream: users grouped by
    * first-activity week, counted once per (cohort, offset) week they
    * return. Distinct-then-count at both steps (no count_distinct
    * Expand); cohort sizes ride back in as a broadcast. All day/week
    * arithmetic in integer µs-derived day numbers, exact cross-engine. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val day = floor(col("ts") / lit(86400000000L)).cast("long")
    val e = Tables.events(spark, dir).select(col("user_id"), day.as("day")).distinct()
    val firsts = e.groupBy("user_id").agg(min(col("day")).as("first_day"))
    val active = e.join(firsts, "user_id")
      .select(col("user_id"),
        floor(col("first_day") / 7).cast("long").as("cohort_week"),
        floor((col("day") - col("first_day")) / 7).cast("long").as("offset_week"))
      .distinct()
    val counts = active.groupBy("cohort_week", "offset_week")
      .agg(count(lit(1)).as("n_users"))
    val sizes = firsts
      .select(floor(col("first_day") / 7).cast("long").as("cohort_week"))
      .groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    counts.join(broadcast(sizes), "cohort_week")
      .withColumn("retention_pct",
        round(lit(100.0) * col("n_users") / col("cohort_size"), 4))
      .select("cohort_week", "offset_week", "n_users", "cohort_size", "retention_pct")
      .orderBy("cohort_week", "offset_week")
  }

  val cohortRetentionSql: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day
      |  FROM events
      |), firsts AS (
      |  SELECT user_id, min(day) AS first_day FROM e GROUP BY user_id
      |), active AS (
      |  SELECT DISTINCT e.user_id,
      |    CAST(floor(f.first_day / 7.0) AS BIGINT) AS cohort_week,
      |    CAST(floor((e.day - f.first_day) / 7.0) AS BIGINT) AS offset_week
      |  FROM e JOIN firsts f ON e.user_id = f.user_id
      |), counts AS (
      |  SELECT cohort_week, offset_week, count(*) AS n_users
      |  FROM active GROUP BY cohort_week, offset_week
      |), sizes AS (
      |  SELECT CAST(floor(first_day / 7.0) AS BIGINT) AS cohort_week,
      |    count(*) AS cohort_size
      |  FROM firsts GROUP BY 1
      |)
      |SELECT c.cohort_week, c.offset_week, c.n_users, s.cohort_size,
      |  round(100.0 * c.n_users / s.cohort_size, 4) AS retention_pct
      |FROM counts c JOIN sizes s ON c.cohort_week = s.cohort_week
      |ORDER BY c.cohort_week, c.offset_week""".stripMargin

  /** X48 ordered funnel (signup → view → click → purchase by FIRST
    * occurrence time per user): one conditional-min agg per user, one
    * global 1-row agg, exploded into stage rows — no self-joins, no
    * windows. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    def firstOf(t: String) = min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(firstOf("signup"), firstOf("view"), firstOf("click"), firstOf("purchase"))
    val s1 = col("t_signup").isNotNull
    val s2 = s1 && col("t_view") > col("t_signup")
    val s3 = s2 && col("t_click") > col("t_view")
    val s4 = s3 && col("t_purchase") > col("t_click")
    val one = perUser.agg(
      sum(when(s1, 1L).otherwise(0L)).as("n1"),
      sum(when(s2, 1L).otherwise(0L)).as("n2"),
      sum(when(s3, 1L).otherwise(0L)).as("n3"),
      sum(when(s4, 1L).otherwise(0L)).as("n4"))
    one.select(explode(array(
      struct(lit(1).as("stage"), lit("signup").as("name"),
        col("n1").as("n_users"), lit(1.0).as("pct_of_entry")),
      struct(lit(2).as("stage"), lit("view_after_signup").as("name"),
        col("n2").as("n_users"), round(col("n2").cast("double") / col("n1"), 6).as("pct_of_entry")),
      struct(lit(3).as("stage"), lit("click_after_view").as("name"),
        col("n3").as("n_users"), round(col("n3").cast("double") / col("n1"), 6).as("pct_of_entry")),
      struct(lit(4).as("stage"), lit("purchase_after_click").as("name"),
        col("n4").as("n_users"), round(col("n4").cast("double") / col("n1"), 6).as("pct_of_entry"))
    )).as("s")).select("s.*").orderBy("stage")
  }

  val funnelStagesSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t1,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t2,
      |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t3,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t4
      |  FROM events GROUP BY user_id
      |), c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
      |    CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 AND t4 > t3 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      |  FROM f
      |)
      |SELECT * FROM (
      |  SELECT 1 AS stage, 'signup' AS name, n1 AS n_users, 1.0 AS pct_of_entry FROM c
      |  UNION ALL
      |  SELECT 2, 'view_after_signup', n2, round(CAST(n2 AS DOUBLE) / n1, 6) FROM c
      |  UNION ALL
      |  SELECT 3, 'click_after_view', n3, round(CAST(n3 AS DOUBLE) / n1, 6) FROM c
      |  UNION ALL
      |  SELECT 4, 'purchase_after_click', n4, round(CAST(n4 AS DOUBLE) / n1, 6) FROM c
      |) ORDER BY stage""".stripMargin

  /** X49 rolling 7-day trailing aggregates: pre-aggregate to (type, day)
    * FIRST — the RANGE-frame window then runs over the tiny daily frame,
    * not the raw events, so the per-type partition is never a hot key.
    * The windowed sum stays in DECIMAL until the end (a double window sum
    * would be frame-order-dependent cross-engine). */
  def rollingDaily(spark: SparkSession, dir: String): DataFrame = {
    val day = floor(col("ts") / lit(86400000000L)).cast("long")
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), day.as("day"))
      .agg(sum(dec2(col("value"))).as("_dv"), count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
    daily
      .withColumn("rolling_7d_value", sum(col("_dv")).over(w).cast("double"))
      .withColumn("rolling_7d_events", sum(col("n")).over(w))
      .select(col("event_type"), col("day"), col("_dv").cast("double").as("day_value"),
        col("n"), col("rolling_7d_value"), col("rolling_7d_events"))
      .orderBy("event_type", "day")
  }

  val rollingDailySql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events
      |), d AS (
      |  SELECT event_type, day, sum(v) AS dv, count(*) AS n
      |  FROM e GROUP BY event_type, day
      |)
      |SELECT event_type, day,
      |  CAST(dv AS DOUBLE) AS day_value, n,
      |  CAST(sum(dv) OVER w AS DOUBLE) AS rolling_7d_value,
      |  CAST(sum(n) OVER w AS BIGINT) AS rolling_7d_events
      |FROM d
      |WINDOW w AS (PARTITION BY event_type ORDER BY day
      |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin

  /** X56 event-type transition matrix (first-order Markov counts): lag
    * over each user's time-ordered stream, then one keyed count and a
    * per-source broadcast-free probability via a partitioned window over
    * the TINY (type × type) matrix. */
  def typeTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val counts = pairs.groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy("prev_type")
    counts
      .withColumn("p", round(col("n").cast("double") / sum(col("n")).over(wt), 6))
      .select(col("prev_type"), col("event_type").as("next_type"), col("n"), col("p"))
      .orderBy("prev_type", "next_type")
  }

  val typeTransitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events
      |), p AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM e
      |), c AS (
      |  SELECT prev_type, event_type AS next_type, count(*) AS n
      |  FROM p WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, event_type
      |)
      |SELECT prev_type, next_type, n,
      |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  /** X63 generic as-of join (latest signup value at each click): union +
    * one keyed window instead of a range join — |L|+|R| rows through one
    * shuffle-sort. Oracle: DuckDB's native ASOF JOIN. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    // dedupe the right side per (key, ts): two rights at the same instant
    // would make "the latest" ambiguous in BOTH engines
    val signups = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts").as("s_ts"))
      .agg(max(col("value")).as("signup_value"))
    operators.AsOf.join(clicks, signups, "user_id", "ts", "s_ts",
      payloadCols = Seq("signup_value"))
      .select(col("user_id"), col("event_id"), col("ts"),
        col("asof_signup_value"))
      .orderBy("user_id", "ts", "event_id")
  }

  val asofJoinSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
      |  WHERE event_type = 'click'
      |), s AS (
      |  SELECT user_id, epoch_us(ts) AS s_ts, max(value) AS signup_value
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id, epoch_us(ts)
      |)
      |SELECT c.user_id, c.event_id, c.ts,
      |  s.signup_value AS asof_signup_value
      |FROM c ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.ts >= s.s_ts
      |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin

  /** X66 latest-row-per-key (CDC log compaction as a query): each user's
    * most recent event by (ts, event_id) — the read-side form of MERGE's
    * last-wins rule. `max_by` over a lexicographic struct key instead of
    * a window top-1: the aggregate partial-merges map-side, so only one
    * candidate row per (task, user) reaches the shuffle where the window
    * form would shuffle-sort EVERY event of every user. */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.event_id").as("event_id"),
        col("r.ts").as("ts"), col("r.event_type").as("event_type"),
        round(col("r.value"), 6).as("value"))
      .orderBy("user_id")

  val latestPerKeySql: String =
    """WITH r AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts, event_type,
      |    round(value, 6) AS value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rnk
      |  FROM events
      |)
      |SELECT user_id, event_id, ts, event_type, value
      |FROM r WHERE rnk = 1 ORDER BY user_id""".stripMargin

  /** X74 behavioral-diversity histogram: Shannon entropy of each user's
    * event-type mix, bucketed. Computed via the grouped-count identity
    * H = ln(N) − Σ nᵢ·ln(nᵢ)/N, which needs ONE scan and no driver
    * round-trip (the old shape collected the distinct type vocabulary
    * first, paying a second full pass, and widened the agg by one
    * conditional sum per type). Each per-type term is cast to
    * DECIMAL(20,12) before the per-user sum so the addition is
    * order-free — an aggregated double Σ would drift in the last ulp
    * cross-engine — and the plan is independent of the type cardinality:
    * a new event type in production is one more (user, type) row, not a
    * recompiled expression tree. */
  def userEntropy(spark: SparkSession, dir: String): DataFrame = {
    val perUT = Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val perUser = perUT.groupBy("user_id").agg(
      sum(col("n")).as("n_all"),
      sum((col("n").cast("double") * log(col("n").cast("double")))
        .cast("decimal(20,12)")).as("s"))
    val h = log(col("n_all").cast("double")) -
      col("s").cast("double") / col("n_all").cast("double")
    val binned = perUser.withColumn("h", h)
      .withColumn("bin", Stats.binIndex(col("h"), Seq(0.4, 0.8, 1.2, 1.6)))
    binned.groupBy("bin")
      .agg(
        count(lit(1)).as("n_users"),
        round((sum(col("h").cast("decimal(20,12)")).cast("double") / count(lit(1))), 6)
          .as("avg_entropy"))
      .orderBy("bin")
  }

  val userEntropySql: String =
    """WITH ut AS (
      |  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY user_id, event_type
      |), u AS (
      |  SELECT user_id, sum(n) AS n_all,
      |    sum(CAST(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) AS DECIMAL(20,12))) AS s
      |  FROM ut GROUP BY user_id
      |), h AS (
      |  SELECT user_id,
      |    ln(CAST(n_all AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n_all AS DOUBLE) AS h
      |  FROM u
      |), b AS (
      |  SELECT CASE WHEN h < 0.4 THEN -1 WHEN h < 0.8 THEN 0
      |              WHEN h < 1.2 THEN 1 WHEN h < 1.6 THEN 2 ELSE 3 END AS bin, h
      |  FROM h
      |)
      |SELECT bin, count(*) AS n_users,
      |  round(CAST(sum(CAST(h AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_entropy
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** X75 session-basket type affinity: association lift between event
    * types co-occurring in the same time-gap session (market-basket
    * analysis over the event stream). All counts exact; lift is one
    * double ratio of exact integers. The pair join is keyed on
    * (user, session) and types are a bounded vocabulary, so the pair
    * space is tiny. */
  def typeAffinity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val s = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("brk",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > GapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    // ONE session-keyed aggregation collects each session's distinct
    // types as a SORTED set; pairs explode map-side from the set suffix
    // (types sorted ⇒ a < b by construction) — no distinct +
    // session-keyed SELF-JOIN, whose pair generation would re-shuffle
    // the distinct frame onto (user, session) twice. The
    // per-session type-set is bounded by the event-type vocabulary, so
    // the explode is C(|types|, 2) per session — the same pair mass the
    // join emitted, now without a join. hash(user_id) from the window
    // already satisfies the (user, session) clustering, so the agg adds
    // no exchange.
    val sess = s.groupBy("user_id", "session_seq")
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
    val nS = broadcast(sess.agg(count(lit(1)).as("n_sessions")))
    val perType = sess.select(explode(col("types")).as("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val pairs = sess
      .select(col("types"), posexplode(col("types")).as(Seq("_i", "type_a")))
      .select(col("type_a"),
        explode(slice(col("types"), col("_i") + lit(2),
          greatest(size(col("types")) - col("_i") - 1, lit(0)))).as("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"), col("n_t").as("na"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"), col("n_t").as("nb"))), "type_b")
      .crossJoin(nS)
      .withColumn("lift", round(
        (col("n_ab").cast("double") * col("n_sessions")) /
          (col("na").cast("double") * col("nb")), 6))
      .select("type_a", "type_b", "n_ab", "lift")
      .orderBy("type_a", "type_b")
  }

  val typeAffinitySql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events
      |), l AS (
      |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM e
      |), s AS (
      |  SELECT user_id, event_type,
      |    CAST(sum(CASE WHEN prev_ts IS NULL OR ts - prev_ts > 600000000
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM l
      |), st AS (
      |  SELECT DISTINCT user_id, session_seq, event_type FROM s
      |), ns AS (
      |  SELECT count(*) AS n_sessions
      |  FROM (SELECT DISTINCT user_id, session_seq FROM st)
      |), pt AS (
      |  SELECT event_type, count(*) AS n_t FROM st GROUP BY event_type
      |), pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND a.session_seq = b.session_seq
      |    AND a.event_type < b.event_type
      |  GROUP BY a.event_type, b.event_type
      |)
      |SELECT p.type_a, p.type_b, p.n_ab,
      |  round((CAST(p.n_ab AS DOUBLE) * ns.n_sessions)
      |    / (CAST(a.n_t AS DOUBLE) * b.n_t), 6) AS lift
      |FROM pairs p
      |JOIN pt a ON p.type_a = a.event_type
      |JOIN pt b ON p.type_b = b.event_type, ns
      |ORDER BY p.type_a, p.type_b""".stripMargin

  /** X77 leakage-safe group-aware split: every event of a user lands in
    * the same train/val/test split, so user-level signal can never leak
    * across the boundary (the group-wise analog of the reference's
    * episode-scoped dataset splits). Assignment is a map-only LCG
    * scramble of the group key — deterministic, engine-agnostic, no
    * shuffle beyond the one report agg. */
  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = (col("user_id") * lit(1103515245L) + lit(12345L)) % lit(2147483647L)
    val s = Tables.events(spark, dir)
      .withColumn("split",
        when(h % 10 < 8, lit("train"))
          .when(h % 10 === 8, lit("val"))
          .otherwise(lit("test")))
    val tot = s.agg(count(lit(1)).as("n_all"))
    s.groupBy("split")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .crossJoin(broadcast(tot))
      .withColumn("pct_events",
        round(col("n_events").cast("double") * 100 / col("n_all"), 6))
      .drop("n_all")
      .orderBy("split")
  }

  val groupSplitSql: String =
    """WITH s AS (
      |  SELECT user_id,
      |    CASE WHEN ((user_id * 1103515245 + 12345) % 2147483647) % 10 < 8
      |           THEN 'train'
      |         WHEN ((user_id * 1103515245 + 12345) % 2147483647) % 10 = 8
      |           THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM events
      |), t AS (SELECT count(*) AS n_all FROM events)
      |SELECT s.split, count(DISTINCT s.user_id) AS n_users,
      |  count(*) AS n_events,
      |  round(CAST(count(*) AS DOUBLE) * 100 / t.n_all, 6) AS pct_events
      |FROM s, t GROUP BY s.split, t.n_all ORDER BY s.split""".stripMargin

  /** X86 PSI distribution-drift monitor: Population Stability Index of
    * each event type's value histogram, baseline (even event_id) vs
    * current (odd). Fixed bin edges, Laplace-smoothed shares over the
    * full type×bin grid so structurally-absent bins still contribute,
    * per-term DECIMAL(20,12) cast before the sum (order-free addition —
    * same device as q79). Everything after the first agg is
    * bins×types-sized. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val edges = Seq(0.0, 10.0, 25.0, 50.0, 100.0, 200.0)
    val nBins = edges.size
    val e = Tables.events(spark, dir)
      .withColumn("bin", Stats.binIndex(col("value"), edges))
      .withColumn("cur", pmod(col("event_id"), lit(2)) === 1)
    // bin = -1 (value below the first edge) must be excluded BEFORE the
    // totals agg: the oracle derives totals from the grid-joined frame
    // (bins 0..B-1 only), so a below-range value would diverge the
    // smoothed shares between engines if it reached `tot`.
    val counts = e.filter(col("bin") >= 0).groupBy("event_type", "bin").agg(
      sum(when(!col("cur"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("cur"), 1L).otherwise(0L)).as("nc"))
    val grid = e.select("event_type").distinct()
      .crossJoin(spark.range(0, nBins.toLong).select(col("id").cast("int").as("bin")))
    val tot = counts.groupBy("event_type").agg(sum("nb").as("tb"), sum("nc").as("tc"))
    val full = grid.join(counts, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("nb", "nc"))
      .join(broadcast(tot), "event_type")
    val pb = (col("nb").cast("double") + lit(0.5)) / (col("tb").cast("double") + lit(0.5 * nBins))
    val pc = (col("nc").cast("double") + lit(0.5)) / (col("tc").cast("double") + lit(0.5 * nBins))
    full.withColumn("term", (pc - pb) * log(pc / pb))
      .groupBy("event_type")
      .agg(max("tb").as("n_base"), max("tc").as("n_cur"),
        round(sum(col("term").cast("decimal(20,12)")).cast("double"), 6).as("psi"))
      .orderBy("event_type")
  }

  val psiDriftSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CASE WHEN value < 0 THEN -1 WHEN value < 10 THEN 0
      |         WHEN value < 25 THEN 1 WHEN value < 50 THEN 2
      |         WHEN value < 100 THEN 3 WHEN value < 200 THEN 4
      |         ELSE 5 END AS bin,
      |    CAST(event_id % 2 AS INTEGER) AS cur
      |  FROM events
      |), c AS (
      |  SELECT event_type, bin,
      |    CAST(sum(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |    CAST(sum(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc
      |  FROM e GROUP BY event_type, bin
      |), g AS (
      |  SELECT t.event_type, CAST(b.bin AS INTEGER) AS bin
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN (SELECT unnest(range(0, 6)) AS bin) b
      |), f AS (
      |  SELECT g.event_type, g.bin,
      |    coalesce(c.nb, 0) AS nb, coalesce(c.nc, 0) AS nc
      |  FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.bin = c.bin
      |), t AS (
      |  SELECT event_type, CAST(sum(nb) AS BIGINT) AS tb,
      |    CAST(sum(nc) AS BIGINT) AS tc
      |  FROM f GROUP BY event_type
      |), x AS (
      |  SELECT f.event_type, t.tb, t.tc,
      |    (CAST(f.nb AS DOUBLE) + 0.5) / (CAST(t.tb AS DOUBLE) + 3.0) AS pb,
      |    (CAST(f.nc AS DOUBLE) + 0.5) / (CAST(t.tc AS DOUBLE) + 3.0) AS pc
      |  FROM f JOIN t ON f.event_type = t.event_type
      |)
      |SELECT event_type, max(tb) AS n_base, max(tc) AS n_cur,
      |  round(CAST(sum(CAST((pc - pb) * ln(pc / pb) AS DECIMAL(20,12))) AS DOUBLE), 6) AS psi
      |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin
}
