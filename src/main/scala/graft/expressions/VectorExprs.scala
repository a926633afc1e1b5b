package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd dense-vector kernels. The higher-order-function formulation
  * (`aggregate(zip_with(...))`) evaluates lambdas interpretively per
  * element — fine for correctness, ~30-50× too slow in the similarity
  * hot path. This expression participates in whole-stage codegen with a
  * tight primitive loop, while keeping the exact left-to-right double
  * accumulation the DuckDB oracle uses (bit-identical results).
  */
case class VecDotD(left: Expression, right: Expression) extends BinaryExpression {

  // inputs must be array<double>; callers cast via vecAsDouble first
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Kernel for [[NearestCellExpr]]: argmax over cells of
  * dot(v, centroid)/‖centroid‖, ties to the LOWEST cell id (same order
  * as (cosine desc, cell_id asc) — the vector's own norm is a positive
  * constant across cells, so dividing by it cannot change the argmax). */
object CellKernels {
  /** 1/‖centroid‖ per cell, 0 for a zero centroid: the scale both
    * kernels take, computed once per model. */
  def invNorms(cents: Array[Array[Double]]): Array[Double] = cents.map { c =>
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n > 0) 1.0 / n else 0.0
  }

  def nearestCell(v: ArrayData, cents: Array[Array[Double]], invNorms: Array[Double]): Int = {
    val d = v.numElements()
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(d, cent.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += v.getDouble(i) * cent(i); i += 1 }
      val score = if (invNorms(c) > 0) acc * invNorms(c) else -2.0
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** Top-`nProbe` cell POSITIONS by (score desc, index asc) — the
    * multi-cell generalization of [[nearestCell]], for IVF probe
    * routing. O(cells·nProbe) selection: both are index-bounded model
    * sizes (≤ a few hundred), so this is microseconds per row and stays
    * branch-simple for codegen. */
  def probeCells(v: ArrayData, cents: Array[Array[Double]], invNorms: Array[Double],
      nProbe: Int): ArrayData = {
    val m = cents.length
    val d = v.numElements()
    val scores = new Array[Double](m)
    var c = 0
    while (c < m) {
      val cent = cents(c)
      val n = math.min(d, cent.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += v.getDouble(i) * cent(i); i += 1 }
      // NaN query values make every score NaN, and `score > bestS` never
      // fires on NaN — map to a sentinel below the zero-norm -2.0 so the
      // selection stays total (first cells win deterministically) instead
      // of indexing used(-1)
      val s = if (invNorms(c) > 0) acc * invNorms(c) else -2.0
      scores(c) = if (s.isNaN) -3.0 else s
      c += 1
    }
    val np = math.min(nProbe, m)
    val out = new Array[Int](np)
    val used = new Array[Boolean](m)
    var r = 0
    while (r < np) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var i = 0
      while (i < m) {
        if (!used(i) && (best < 0 || scores(i) > bestS)) {
          best = i; bestS = scores(i)
        }
        i += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Kernel for [[WhitenExpr]]: out = W(x − μ) with W PACKED
  * lower-triangular row-major (row i occupies w[i(i+1)/2 … i(i+1)/2+i]).
  * The j-ascending accumulation matches
  * [[graft.operators.Whitening.Model.transform]] exactly, so the
  * expression is bit-identical to the driver-side reference kernel. */
object WhitenKernels {
  def whiten(v: ArrayData, mean: Array[Double], w: Array[Double]): ArrayData = {
    val d = mean.length
    if (v.numElements() != d)
      throw new IllegalArgumentException(
        s"whiten_vec: expected dim $d, got ${v.numElements()}")
    val c = new Array[Double](d)
    var i = 0
    while (i < d) { c(i) = v.getDouble(i) - mean(i); i += 1 }
    val out = new Array[Double](d)
    i = 0
    var base = 0
    while (i < d) {
      var s = 0.0
      var j = 0
      while (j <= i) { s += w(base + j) * c(j); j += 1 }
      out(i) = s
      base += i + 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Map-only whitening transform W(x − μ): the model (μ + packed
  * lower-triangular W, ~d²/2 doubles — KB-scale) rides as a codegen
  * reference object, replacing the boxed per-row Seq[Double] UDF this
  * repo's kernel convention exists to avoid. One O(d²) primitive loop
  * per row inside whole-stage codegen. */
case class WhitenExpr(child: Expression, mean: Array[Double],
    wPacked: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    WhitenKernels.whiten(v.asInstanceOf[ArrayData], mean, wPacked)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("mean", mean, "double[]")
    val wRef = ctx.addReferenceObj("wPacked", wPacked, "double[]")
    defineCodeGen(ctx, ev,
      v => s"graft.expressions.WhitenKernels.whiten($v, $mRef, $wRef)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Kernel for [[ProjectExpr]]: out = P(x − μ) with P a DENSE r×d matrix
  * packed row-major (row i at offset i·d) — the PCA projection sibling of
  * [[WhitenKernels]]' triangular multiply. j-ascending accumulation
  * matches [[graft.operators.Pca.Model.transform]] exactly. */
object ProjectKernels {
  def project(v: ArrayData, mean: Array[Double], p: Array[Double], r: Int): ArrayData = {
    val d = mean.length
    if (v.numElements() != d)
      throw new IllegalArgumentException(
        s"project_vec: expected dim $d, got ${v.numElements()}")
    val c = new Array[Double](d)
    var i = 0
    while (i < d) { c(i) = v.getDouble(i) - mean(i); i += 1 }
    val out = new Array[Double](r)
    i = 0
    while (i < r) {
      var s = 0.0
      val base = i * d
      var j = 0
      while (j < d) { s += p(base + j) * c(j); j += 1 }
      out(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Map-only dense projection P(x − μ): r×d model rides as a codegen
  * reference object — one O(r·d) primitive loop per row inside
  * whole-stage codegen (the [[WhitenExpr]] convention). */
case class ProjectExpr(child: Expression, mean: Array[Double],
    pFlat: Array[Double], r: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ProjectKernels.project(v.asInstanceOf[ArrayData], mean, pFlat, r)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("mean", mean, "double[]")
    val pRef = ctx.addReferenceObj("pFlat", pFlat, "double[]")
    defineCodeGen(ctx, ev,
      v => s"graft.expressions.ProjectKernels.project($v, $mRef, $pRef, $r)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Map-only nearest-centroid assignment: the centroid table is a small
  * model object (nCells rows), so it rides along as a codegen reference
  * instead of a crossJoin that materializes nCells rows per vector. */
case class NearestCellExpr(child: Expression, cents: Array[Array[Double]],
    invNorms: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(v: Any): Any =
    CellKernels.nearestCell(v.asInstanceOf[ArrayData], cents, invNorms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cells", cents, "double[][]")
    val nRef = ctx.addReferenceObj("invNorms", invNorms, "double[]")
    defineCodeGen(ctx, ev,
      v => s"graft.expressions.CellKernels.nearestCell($v, $cRef, $nRef)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Map-only IVF probe routing: top-`nProbe` cell positions per vector,
  * ordered (score desc, position asc) — replaces the
  * crossJoin(centroids) + window ranking, which cost a shuffle and an
  * extra stage per search for what is a per-row argtop over a bounded
  * model object. */
case class ProbeCellsExpr(child: Expression, cents: Array[Array[Double]],
    invNorms: Array[Double], nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    CellKernels.probeCells(v.asInstanceOf[ArrayData], cents, invNorms, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cells", cents, "double[][]")
    val nRef = ctx.addReferenceObj("invNorms", invNorms, "double[]")
    defineCodeGen(ctx, ev,
      v => s"graft.expressions.CellKernels.probeCells($v, $cRef, $nRef, $nProbe)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object VectorExprs {
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_vec_dot", exprs => VecDotD(exprs(0), exprs(1)), "built-in")

  /** Requires [[register]] on the executing session. */
  def vec_dot(a: Column, b: Column): Column = call_function("graft_vec_dot", a, b)

  /** Nearest-centroid cell of a double-array column. `cents(i)` is the
    * centroid of cell i. The expression is wrapped in a Column DIRECTLY
    * (no function registry): `call_function` would defer resolution to
    * analysis time, so two nearest_cell columns composed lazily would
    * both resolve against the LAST registration's centroids. Eager
    * construction binds each Column to its own centroid payload, and the
    * registry never pins a centroid array for the session's lifetime. */
  def nearest_cell(v: Column, cents: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      NearestCellExpr(ColumnShim.expression(v), cents, CellKernels.invNorms(cents)))
  }

  /** Whitening transform W(x − μ) of a double-array column; `wPacked` is
    * the lower-triangular whitener packed row-major. Same eager Column
    * wrapping rationale as [[nearest_cell]]. */
  def whiten_vec(v: Column, mean: Array[Double], wPacked: Array[Double]): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(WhitenExpr(ColumnShim.expression(v), mean, wPacked))
  }

  /** PCA projection P(x − μ) of a double-array column; `pFlat` is the
    * r×d component matrix packed row-major. Same eager Column wrapping
    * rationale as [[nearest_cell]]. */
  def project_vec(v: Column, mean: Array[Double], pFlat: Array[Double], r: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(ProjectExpr(ColumnShim.expression(v), mean, pFlat, r))
  }

  /** Top-`nProbe` cell positions of a double-array column, ordered
    * (cosine desc, position asc). Same eager Column wrapping rationale as
    * [[nearest_cell]]. */
  def probe_cells(v: Column, cents: Array[Array[Double]], nProbe: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      ProbeCellsExpr(ColumnShim.expression(v), cents, CellKernels.invNorms(cents), nProbe))
  }
}
