package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType|DoubleType)` embedding columns.
  *
  * Spark-first: expressed with higher-order functions (`zip_with`,
  * `aggregate`, `transform`) so the whole computation stays inside
  * Catalyst expressions — no UDF serialization, no Python boundary.
  * All arithmetic is done in Double after an explicit elementwise cast, so
  * results are bit-identical to any engine that sums left-to-right in
  * double (the DuckDB oracle does).
  *
  * Semantics match the reference's L2 helpers
  * (reference: src/lakehouse/aggregation/beats.py:198-217,
  * src/lakehouse/quality/metrics/embedding.py:310-405,976-998). Cosine
  * lives in one place, [[graft.operators.Similarity.cosine]], so every
  * path gives a zero vector the same NULL sim.
  */
object VectorFunctions {

  /** Elementwise cast to double — do this once, up front. */
  def vecAsDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product; inputs must already be double arrays (use [[vecAsDouble]]).
    * Left-to-right summation: deterministic and oracle-comparable. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2NormSq(a: Column): Column = dot(a, a)

  def l2Norm(a: Column): Column = sqrt(l2NormSq(a))

  /** L2-normalize a vector (keeps zero vectors as zero). */
  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, a).otherwise(transform(a, x => x / n))
  }

  // ---- symmetric int8 quantization (embedding-store compression) -----
  // 4× smaller than float32 at ~0.2% RMS error for unit-norm vectors —
  // at a 100 TB embedding store that is 75 TB of storage and shuffle
  // bytes that never move. Scale is per-vector (127 / max|x|), the
  // standard symmetric scheme; all map-only codegen expressions.

  /** Per-vector quantization scale; null when the vector is all-zero
    * (callers keep zero vectors unquantized). Input: double array. */
  def int8Scale(v: Column): Column = {
    val maxabs = array_max(transform(v, x => abs(x)))
    when(maxabs > 0.0, lit(127.0) / maxabs)
  }

  /** Quantize to array<tinyint> with the given scale. |x·scale| ≤ 127 by
    * construction, so the cast never wraps. */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x => round(x * scale).cast("tinyint"))

  /** Reconstruct doubles from an int8 vector and its scale. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") / scale)
}
