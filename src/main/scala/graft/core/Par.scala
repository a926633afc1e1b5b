package graft.core

import org.apache.spark.sql.DataFrame

/** Parallelism repair for low-split inputs. */
object Par {

  /** Below this input size a starved stage is cheaper than the exchange
    * that would fix it; measured at sf0.1 (≤0.8 MB tables) the spread
    * costs +0.3–1.0 s per query in exchange + AQE stage barriers while
    * the kernel it parallelizes is only ~0.2–0.8 s. Overridable per
    * session via `spark.graft.spread.minBytes`. */
  val DefaultMinSpreadBytes: Long = 2L << 20

  /** Un-starve a low-split scan before a compute-dense per-row kernel.
    *
    * Parquet written as few files / single row groups plans as ~1 scan
    * partition, so the whole first stage — scan + ngram/regex/hash
    * explode + partial aggregation — runs on one core no matter how many
    * the cluster has (measured 3.5× on the langid kernel; docs/SCALE.md,
    * "Box-noise canary", second scale bug). The fix is one round-robin
    * exchange of the (pruned) input columns before the kernel;
    * `repartition(n)` with an explicit count so AQE cannot coalesce the
    * spread away.
    *
    * Two gates keep the exchange strictly profitable:
    *   - parallelism: no-op when `2×partitions ≥ cores` — at real scale
    *     the scan already has thousands of splits, so the exchange only
    *     ever appears when it buys parallelism;
    *   - work size: no-op when the input's Catalyst size estimate is
    *     under `minBytes` — a starved-but-tiny stage finishes faster
    *     than the exchange + AQE stage barrier would cost (measured:
    *     the spread REGRESSED sub-MB sf0.1 inputs 1.2–2× while the same
    *     queries at 10× the data are kernel-dominated and win).
    *
    * Filters and projections still push through the Repartition node to
    * the scan (Catalyst `PushDownPredicates` / `ColumnPruning` treat it
    * as a deterministic unary node), and round-robin sorts each input
    * partition first (`spark.sql.execution.sortBeforeRepartition`,
    * default on) so the row→partition assignment is deterministic across
    * runs and retries.
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // partitioning is the source's to decide
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val minBytes = spark.conf
      .getOption("spark.graft.spread.minBytes").map(_.toLong)
      .getOrElse(DefaultMinSpreadBytes)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < minBytes) df
    else if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }
}
