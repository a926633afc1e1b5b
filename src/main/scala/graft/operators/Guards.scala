package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Size guards for operators whose exact contract is inherently O(n²).
  *
  * Generalizes the reference's fuzzy-dedup guard, which silently skips its
  * O(n²) pass above 10k rows (src/lakehouse/quality/metrics/integrity.py:
  * 559-569). Silent skipping is the wrong failure mode for a library: here
  * the guard is explicit — above the cap the operator throws, naming the
  * approximate path to switch to (MinHash-LSH for sets, IVF for vectors,
  * pigeonhole banding for simhash), and the caller either switches or
  * raises the cap consciously.
  */
object Guards {

  /** Default cap for exact all-pairs operators. 200k rows is already
    * ~2·10^10 pair comparisons — the edge of one-job sanity on a mid-size
    * cluster; anything larger must take a sub-quadratic path. */
  val DefaultExactPairRows: Long = 200000L

  /** Count-and-check; returns the row count so callers can reuse it.
    * The work is BOUNDED: the count runs over limit(max + 1), which plans
    * LocalLimit per partition — every partition early-exits at max + 1
    * rows, in parallel — instead of a full count of an input that may be
    * arbitrarily large. A driver-local batch (its optimized plan is a
    * `LocalRelation`, e.g. `Seq(...).toDF`) is counted from the plan,
    * with no job. (A fused guard that collect()ed the side for its
    * broadcast was tried and reverted: executeCollect's incremental-limit
    * path populates upstream caches with crippled parallelism, costing
    * far more on derived inputs than the counting job it saved.) */
  def requireAtMost(df: DataFrame, maxRows: Long, op: String, alternative: String): Long = {
    val bounded =
      if (maxRows >= Int.MaxValue - 1) df else df.limit(maxRows.toInt + 1)
    val n = bounded.queryExecution.optimizedPlan match {
      case local: LocalRelation => local.data.length.toLong
      case _ => bounded.count()
    }
    if (n > maxRows)
      throw new IllegalArgumentException(
        s"$op: input exceeds $maxRows rows (guard); the exact all-pairs contract " +
          s"is quadratic past this point. $alternative, or raise maxRows explicitly.")
    n
  }
}
