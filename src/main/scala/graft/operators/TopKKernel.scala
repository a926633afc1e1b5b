package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Partition-local exact top-k scoring kernel behind
  * [[Similarity.topKExact]] and [[Similarity.hardNegatives]].
  *
  * Replaces the |Q|·n broadcast-nested-loop join + full-stream heap agg
  * with a tight per-task loop over primitive arrays: each corpus
  * partition scores its rows against every (collected, bounded) query
  * and keeps only the top-k candidates per query under the SAME total
  * order [[Similarity.perQueryTopK]] uses, so merging the per-partition
  * top-k supersets through that final agg reproduces the join
  * formulation ([[Similarity.topKExactJoin]]) EXACTLY (spec-pinned by
  * CosineContractSpec). Per pair it applies the cosine contract
  * ([[Similarity.cosine]], [[SimilarityKernels.cosineKey]]):
  *
  *  - dot products accumulate in ascending index order over
  *    min(|a|,|b|) elements — the [[graft.expressions.VecDotD]] loop;
  *  - sim = dot / (qn · nn), then HALF_UP rounding
  *    ([[SimilarityKernels.roundHalfUp]], the Round expression's double
  *    path); NaN ranks first;
  *  - a zero norm product, a null vector on either side, gives a null
  *    sim that ranks after every real sim — offered to the heap like any
  *    candidate, with the worst key;
  *  - ties break on the ascending neighbor id (UTF8 byte order for
  *    strings, i.e. Spark's own string ordering);
  *  - rows whose id equals the query's are skipped (the join condition),
  *    and with labels a pair qualifies only when both labels are
  *    non-null and differ (the SQL `c.label <> q.label`).
  *
  * A cheap pre-round reject (raw sim more than one unit of the rounding
  * scale below the current worst kept sim) skips the BigDecimal
  * allocation for the overwhelming majority of pairs.
  */
private[operators] object TopKKernel {

  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** corpus: (neighbor_id, nv array<double>[, nlabel]); qRows: collected
    * (query_id, qv[, qlabel]) rows with non-null ids, the label column
    * present on both sides or neither. Returns (query_id, neighbor_id,
    * sim) candidate rows — ≤ k·|Q| per partition — for
    * [[Similarity.perQueryTopK]]. Id types must both be string or both
    * be integral (caller-checked). */
  def partitionTopK(corpus: DataFrame, qRows: Array[Row],
      qIdType: DataType, nIdType: DataType, k: Int, roundDp: Int): DataFrame = {
    val spark = corpus.sparkSession
    val stringIds = qIdType == StringType
    val labeled = corpus.schema.length == 3
    val eQIds: Array[AnyRef] = qRows.map(_.get(0).asInstanceOf[AnyRef])
    // a null query vector scores null against every row
    val qVecs: Array[Array[Double]] =
      qRows.map(r => if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray)
    val qNorms: Array[Double] = qVecs.map(v => if (v == null) 0.0 else norm(v))
    val qLabels: Array[AnyRef] =
      if (labeled) qRows.map(_.get(2).asInstanceOf[AnyRef]) else null
    val bQ = spark.sparkContext.broadcast((eQIds, qVecs, qNorms, qLabels))
    val outSchema = StructType(Seq(
      StructField("query_id", qIdType, nullable = true),
      StructField("neighbor_id", nIdType, nullable = true),
      StructField("sim", DoubleType, nullable = true)))
    // round(x) exceeds x by at most half a unit of the rounding scale; a
    // raw sim a full unit below the current worst kept sim cannot enter
    val rejectMargin = math.pow(10.0, -roundDp)

    val out = corpus.mapPartitions { it =>
      val (qIds, vecs, norms, labels) = bQ.value
      val nQ = qIds.length

      def cmpId(a: AnyRef, b: AnyRef): Int =
        if (stringIds) utf8Cmp(a.asInstanceOf[String], b.asInstanceOf[String])
        else java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
          b.asInstanceOf[Number].longValue())
      def idEq(a: AnyRef, b: AnyRef): Boolean =
        if (stringIds) a == b
        else a.asInstanceOf[Number].longValue() == b.asInstanceOf[Number].longValue()
      // keys are cosineKey outputs (smaller = better); heap root = WORST
      // kept candidate: largest key, ties LARGEST id
      def worse(ka: Double, ia: AnyRef, kb: Double, ib: AnyRef): Boolean =
        ka > kb || (ka == kb && cmpId(ia, ib) > 0)

      // per-query bounded max-heaps (root = worst kept)
      val sizes = new Array[Int](nQ)
      val keys = Array.fill(nQ)(new Array[Double](k))
      val hIds = Array.fill(nQ)(new Array[AnyRef](k))
      val hSims = Array.fill(nQ)(new Array[java.lang.Double](k))
      def siftDown(q: Int): Unit = {
        val ks = keys(q); val ids = hIds(q); val ss = hSims(q); val n = sizes(q)
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var w = i
          if (l < n && worse(ks(l), ids(l), ks(w), ids(w))) w = l
          if (r < n && worse(ks(r), ids(r), ks(w), ids(w))) w = r
          if (w == i) done = true
          else {
            val tk = ks(i); ks(i) = ks(w); ks(w) = tk
            val ti = ids(i); ids(i) = ids(w); ids(w) = ti
            val ts = ss(i); ss(i) = ss(w); ss(w) = ts
            i = w
          }
        }
      }
      def siftUp(q: Int, from: Int): Unit = {
        val ks = keys(q); val ids = hIds(q); val ss = hSims(q)
        var i = from
        while (i > 0) {
          val p = (i - 1) / 2
          if (worse(ks(i), ids(i), ks(p), ids(p))) {
            val tk = ks(i); ks(i) = ks(p); ks(p) = tk
            val ti = ids(i); ids(i) = ids(p); ids(p) = ti
            val ts = ss(i); ss(i) = ss(p); ss(p) = ts
            i = p
          } else i = 0
        }
      }
      def offer(q: Int, key: Double, id: AnyRef, sim: java.lang.Double): Unit = {
        val n = sizes(q)
        if (n < k) {
          keys(q)(n) = key; hIds(q)(n) = id; hSims(q)(n) = sim
          sizes(q) = n + 1; siftUp(q, n)
        } else if (worse(keys(q)(0), hIds(q)(0), key, id)) {
          keys(q)(0) = key; hIds(q)(0) = id; hSims(q)(0) = sim
          siftDown(q)
        }
      }

      it.foreach { row =>
        // a null neighbor id never satisfies the join condition
        if (!row.isNullAt(0)) {
          val nid = row.get(0).asInstanceOf[AnyRef]
          val nv = if (row.isNullAt(1)) null else row.getSeq[Double](1).toArray
          val nn = if (nv == null) 0.0 else norm(nv)
          val nLabel = if (labeled) row.get(2).asInstanceOf[AnyRef] else null
          var q = 0
          while (q < nQ) {
            val qualifies = !idEq(qIds(q), nid) &&
              (!labeled || (nLabel != null && labels(q) != null && nLabel != labels(q)))
            if (qualifies) {
              val qv = vecs(q)
              if (qv == null || nv == null) offer(q, SimilarityKernels.NullKey, nid, null)
              else {
                val denom = norms(q) * nn
                val raw = SimilarityKernels.dot(qv, nv) / denom
                val rawKey = SimilarityKernels.cosineKey(raw, denom)
                if (sizes(q) < k || !(rawKey - rejectMargin > keys(q)(0))) {
                  if (rawKey == SimilarityKernels.NullKey)
                    offer(q, rawKey, nid, null)
                  else {
                    val sim = SimilarityKernels.roundHalfUp(raw, roundDp)
                    offer(q, SimilarityKernels.cosineKey(sim, denom), nid,
                      java.lang.Double.valueOf(sim))
                  }
                }
              }
            }
            q += 1
          }
        }
      }

      val rows = Seq.newBuilder[Row]
      var q = 0
      while (q < nQ) {
        var j = 0
        while (j < sizes(q)) {
          rows += Row(qIds(q), hIds(q)(j), hSims(q)(j))
          j += 1
        }
        q += 1
      }
      rows.result().iterator
    }(Encoders.row(outSchema))
    out.toDF("query_id", "neighbor_id", "sim")
  }

  private def norm(v: Array[Double]): Double = math.sqrt(SimilarityKernels.dot(v, v))
}
