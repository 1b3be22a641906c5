package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Compiled kernels for embedding math ([[graft.llm.Similarity]]).
  *
  * Bit-compatibility contract: [[dot]] accumulates left-to-right in Double
  * from a 0.0 seed — exactly the fold order of the HOF formulation
  * (`aggregate(zip_with(a,b,_*_), 0.0, _+_)`) and of the DuckDB oracle's
  * `list_reduce`, so cosine values stay bit-identical across all three.
  * [[hyperplaneBucket]] reproduces the deterministic integer hyperplanes
  * `((j*1000003 + i*7919) % 2001) - 1000` (i 1-based) of
  * `Similarity.hyperplaneBucket`. Equivalence is pinned by
  * `VecFunctionsSpec` over the real embeddings table.
  */
object GraftVecOps {

  /** Both kernels are SQL-reachable (`graft_dot` / `graft_sqdist`), so a
    * length mismatch must fail LOUDLY: `UnsafeArrayData` has no bounds
    * check, and reading past the shorter array would return garbage
    * doubles. (The HOF formulation null-pads to NULL instead; a
    * non-nullable compiled kernel can't, so the error beats the silent
    * wrong number.) */
  private def sameLength(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"vector kernels need equal-length arrays, got $n vs ${b.numElements()}")
    n
  }

  /** Sequential-fold dot product of two equal-length double arrays. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = sameLength(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** Sequential-fold squared euclidean distance — the fold order of
    * `aggregate(zip_with(a,b,(x,y)=>(x-y)*(x-y)), 0.0, _+_)`, so values
    * stay bit-identical to the HOF formulation and the DuckDB oracle's
    * unrolled chain ([[graft.llm.Clustering]]'s assignment metric). */
  def sqDist(a: ArrayData, b: ArrayData): Double = {
    val n = sameLength(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Exact Jaccard of two long-array sets (inputs must be duplicate-free,
    * as [[GraftHashOps.shingleHashes]]/`ngramHashes` guarantee). Computes
    * the same `|A∩B| / (|A|+|B|-|A∩B|)` integer counts → double division
    * as the `array_intersect`/`size` formulation and the DuckDB
    * `list_intersect` mirror — identical values, one hash probe per
    * element instead of materializing the intersection array. */
  def jaccardLong(a: ArrayData, b: ArrayData): Double = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[java.lang.Long](small.numElements() * 2)
    var i = 0
    while (i < small.numElements()) {
      set.add(small.getLong(i))
      i += 1
    }
    var inter = 0
    var j = 0
    while (j < large.numElements()) {
      if (set.contains(large.getLong(j))) inter += 1
      j += 1
    }
    val union = a.numElements() + b.numElements() - inter
    inter.toDouble / union
  }

  /** Number of positions where two equal-length long arrays agree — the
    * MinHash estimate of Jaccard is `sigAgreement(sigA, sigB) / perms`.
    * Integer-valued, so thresholds compare exactly on every engine. */
  def sigAgreement(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    var agree = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) agree += 1
      i += 1
    }
    agree
  }

  /** Sign-bit LSH bucket from `nPlanes` deterministic hyperplanes. */
  def hyperplaneBucket(v: ArrayData, nPlanes: Int): Long = {
    val dim = v.numElements()
    var bucket = 0L
    var j = 0
    while (j < nPlanes) {
      var d = 0.0
      var i = 0
      while (i < dim) {
        val plane = ((j * 1000003 + (i + 1) * 7919) % 2001 - 1000).toDouble
        d += v.getDouble(i) * plane
        i += 1
      }
      if (d >= 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** Row-major flattening of a k×dim centroid matrix — the `cents`
    * argument of [[nearestSqDist]] and [[bestCosine]]; row c occupies
    * `[c*dim, (c+1)*dim)`. Driver-side, at plan build. Every row must
    * have the same dimension. */
  def flatMatrix(
      rows: scala.collection.Seq[scala.collection.Seq[Double]]): Array[Double] = {
    val dim = rows.head.length
    require(rows.forall(_.length == dim),
      s"centroid dimensions differ: ${rows.map(_.length).distinct.mkString(", ")}")
    val flat = new Array[Double](rows.length * dim)
    rows.iterator.zipWithIndex.foreach { case (r, c) => r.copyToArray(flat, c * dim) }
    flat
  }

  /** Nearest centroid by squared euclidean distance over a row-major
    * flattened k×dim centroid matrix; returns `[best_index, best_sqdist]`
    * as doubles (an index is exact in a double far beyond any real k).
    *
    * This is the zero-shuffle form of the Lloyd assignment argmin: the
    * `crossJoin(broadcast(centroids)) → groupBy(vec_id) → min(struct)`
    * spelling shuffles the corpus every round AND sort-aggregates (struct
    * and array aggregation buffers are UnsafeRow-immutable, so
    * HashAggregateExec refuses the plan); a per-row kernel over a literal
    * matrix needs neither. Tiebreaks: the first strictly-smaller distance
    * wins, so the caller encodes `min(struct(dist, key))`'s key-asc
    * tiebreak by ordering the matrix rows; comparison is
    * `java.lang.Double.compare`, whose NaN-greatest rule is exactly the
    * ordering Spark applies inside min/max. Per-row fold order matches
    * [[sqDist]] → bit-identical distances. */
  def nearestSqDist(v: ArrayData, cents: ArrayData, dim: Int): ArrayData = {
    require(v.numElements() == dim,
      s"vector kernels need equal-length arrays, got ${v.numElements()} vs $dim")
    require(dim > 0 && cents.numElements() % dim == 0,
      s"centroid matrix length ${cents.numElements()} is not a multiple of dim $dim")
    val k = cents.numElements() / dim
    var bi = 0
    var bd = Double.NaN
    var c = 0
    while (c < k) {
      val off = c * dim
      var s = 0.0
      var i = 0
      while (i < dim) {
        val d = v.getDouble(i) - cents.getDouble(off + i)
        s += d * d
        i += 1
      }
      if (c == 0 || java.lang.Double.compare(s, bd) < 0) { bd = s; bi = c }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(bi.toDouble, bd))
  }

  /** Highest-cosine centroid over a row-major flattened k×dim matrix with
    * per-centroid norms; returns `[best_index, best_cosine]`. The cosine
    * is `dot(v, c) / (norm * norms(c))` with [[dot]]'s fold order and the
    * same multiplication order as the join formulation — bit-identical
    * values. First strictly-greater cosine wins (caller orders rows for
    * the key-asc tiebreak); `Double.compare` gives max_by's NaN-greatest
    * behavior. Zero-shuffle replacement for the IVF cell-assignment
    * argmax ([[graft.llm.Similarity.ivfTopKWith]]). */
  def bestCosine(
      v: ArrayData, norm: Double, cents: ArrayData, norms: ArrayData, dim: Int): ArrayData = {
    require(v.numElements() == dim,
      s"vector kernels need equal-length arrays, got ${v.numElements()} vs $dim")
    require(dim > 0 && cents.numElements() % dim == 0,
      s"centroid matrix length ${cents.numElements()} is not a multiple of dim $dim")
    val k = norms.numElements()
    require(cents.numElements() / dim == k,
      s"centroid matrix holds ${cents.numElements() / dim} rows but ${k} norms given")
    var bi = 0
    var bc = Double.NaN
    var c = 0
    while (c < k) {
      val off = c * dim
      var s = 0.0
      var i = 0
      while (i < dim) {
        s += v.getDouble(i) * cents.getDouble(off + i)
        i += 1
      }
      val cos = s / (norm * norms.getDouble(c))
      if (c == 0 || java.lang.Double.compare(cos, bc) > 0) { bc = cos; bi = c }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(bi.toDouble, bc))
  }

  /** PCA moment contributions of one micros-quantized vector: the d
    * first-moment entries (i, -1, q_i) followed by the d(d+1)/2
    * upper-triangle second-moment entries (i, j, q_i·q_j), i ≤ j — the
    * compiled form of the nested-transform explode in
    * [[graft.llm.Pca.moments]] (interpreted HOF struct-building measured
    * 2.7 s of the 4.2 s sf0.1 model build; the kernel is one tight
    * loop). Products stay far inside Long (micros ≤ 1e7 → ≤ 1e14). A
    * vector whose length differs from `dim` is an ERROR — a silent
    * truncation or short vector would train a garbage covariance. */
  def pcaMoments(q: ArrayData, dim: Int): ArrayData = {
    val d = q.numElements()
    require(d == dim, s"pcaMoments: expected $dim-dim vector, got $d")
    val qs = new Array[Long](d)
    var i = 0
    while (i < d) { qs(i) = q.getLong(i); i += 1 }
    // trailing (-2, -2, 1) count contribution: summed by the same
    // aggregation, the (-2, -2) group IS the vector count — so one corpus
    // pass trains the model where a separate count() aggregate used to
    // pay a second (guide §2.3); the group key matches the persisted
    // count row of [[graft.llm.Pca.state]] exactly
    val out = new Array[Any](d + d * (d + 1) / 2 + 1)
    var o = 0
    i = 0
    while (i < d) {
      out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i, -1, qs(i)))
      o += 1
      var j = i
      while (j < d) {
        out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i, j, qs(i) * qs(j)))
        o += 1
        j += 1
      }
      i += 1
    }
    out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](-2, -2, 1L))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** All k PCA component projections of one vector in one pass:
    * `out(c) = round((Σ_j (v_j − μ_j)·load_{c,j}) · 1e6)` as longs, with
    * the j-ascending fold order of the HOF spelling
    * (`aggregate(transform(...), 0.0, _+_)`) so the sums are
    * bit-identical, and Spark's `round(double)` semantics
    * (BigDecimal HALF_UP, then the double→long cast) so the quantization
    * matches the previous expression — and the DuckDB oracle — exactly.
    * `load` is the row-major k×dim loading matrix. The interpreted HOF
    * spelling evaluated k aggregate lambdas per row (CodegenFallback);
    * this is one compiled loop (guide §4). A wrong-length vector is an
    * ERROR (the [[graft.llm.Pca.pcaProject]] doc contract). */
  def pcaProject(v: ArrayData, mu: ArrayData, load: ArrayData, dim: Int): ArrayData = {
    require(v.numElements() == dim,
      s"pcaProject: expected $dim-dim vector, got ${v.numElements()}")
    require(mu.numElements() == dim,
      s"pcaProject: mean has ${mu.numElements()} dims, expected $dim")
    require(dim > 0 && load.numElements() % dim == 0,
      s"pcaProject: loading matrix length ${load.numElements()} is not a multiple of dim $dim")
    val k = load.numElements() / dim
    val cent = new Array[Double](dim)
    var j = 0
    while (j < dim) { cent(j) = v.getDouble(j) - mu.getDouble(j); j += 1 }
    val out = new Array[Long](k)
    var c = 0
    while (c < k) {
      val off = c * dim
      var acc = 0.0
      j = 0
      while (j < dim) {
        acc += cent(j) * load.getDouble(off + j)
        j += 1
      }
      out(c) = roundAsSpark(acc * 1e6)
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Spark's `round(double)` → `cast(long)` chain: Spark's HALF_UP
    * rounding at scale 0 ([[GraftRoundOps.roundHalfUp]]; round-half-AWAY-
    * FROM-ZERO — `math.round` would differ on negative .5 boundaries),
    * then `toLong`, which maps NaN → 0 and saturates ±Inf exactly as the
    * double→long Cast does. */
  private[graft] def roundAsSpark(x: Double): Long =
    GraftRoundOps.roundHalfUp(x, 0).toLong

  /** Coarse-quantizer residual of one vector: `out(j) = v(j) −
    * cents(cell·dim + j)` — element-wise exact IEEE subtraction against a
    * row-major flattened centroid matrix, bit-identical to the
    * `transform(sequence(1, dim), j => element_at(v, j) −
    * element_at(flat, cell·dim + j))` spelling it replaces
    * ([[graft.llm.Pq]] `withResidual`), which as a higher-order function
    * was CodegenFallback — interpreted per row on the IVF-PQ hot path
    * (train, encode, search all project residuals; guide §4). */
  def residual(v: ArrayData, cents: ArrayData, cell: Int, dim: Int): ArrayData = {
    require(v.numElements() == dim,
      s"residual: expected $dim-dim vector, got ${v.numElements()}")
    require(dim > 0 && cents.numElements() % dim == 0,
      s"residual: centroid matrix length ${cents.numElements()} is not a multiple of dim $dim")
    require(cell >= 0 && (cell + 1) * dim <= cents.numElements(),
      s"residual: cell $cell out of range for ${cents.numElements() / dim} centroids")
    val off = cell * dim
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) { out(j) = v.getDouble(j) - cents.getDouble(off + j); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Cell-local SemDeDup scan: `ids` (long, ASCENDING — the caller sorts)
    * and `vecs` (double arrays, positionally aligned) are one k-means
    * cell's members; returns `array<struct<vec_id, dup_of>>` — every
    * member that has an EARLIER member at cosine ≥ `tau`, paired with the
    * smallest such id. The ascending scan takes the first (= smallest)
    * match and breaks, so `dup_of = min matching smaller id` exactly as
    * the pair-join formulation computes with `groupBy(vec_b).min(vec_a)`.
    * Zero-norm members never match on either side.
    *
    * This is the shuffle-shape fix for [[graft.llm.Dedup.semantic]]: the
    * pair-join spelling ships both vectors for EVERY candidate pair
    * (O(m²·dim) bytes per cell through two exchanges — measured 39 GB /
    * 157 s on the 200k-vector C1 profile); grouping members per cell
    * ships each vector ONCE (O(m·dim)) and runs the same quadratic scan
    * as a tight in-row loop. Dot/norm fold order matches [[dot]], so the
    * cosines — and the oracle hashes — are bit-identical. */
  def semDup(ids: ArrayData, vecs: ArrayData, tau: Double): ArrayData = {
    val m = ids.numElements()
    require(vecs.numElements() == m,
      s"semDup needs aligned ids/vecs, got $m vs ${vecs.numElements()}")
    if (m < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // materialize member vectors + norms once: ArrayData.getArray on an
    // UnsafeArrayData re-slices per access, and the scan is O(m^2) reads
    val vs = new Array[Array[Double]](m)
    val norms = new Array[Double](m)
    var i = 0
    while (i < m) {
      val a = vecs.getArray(i)
      val dim = a.numElements()
      val v = new Array[Double](dim)
      var d = 0
      var s = 0.0
      while (d < dim) { v(d) = a.getDouble(d); s += v(d) * v(d); d += 1 }
      vs(i) = v
      norms(i) = math.sqrt(s)
      i += 1
    }
    val out = new java.util.ArrayList[Any]()
    var j = 1
    while (j < m) {
      if (norms(j) > 0) {
        val vj = vs(j)
        val dim = vj.length
        var found = -1
        var p = 0
        while (p < j && found < 0) {
          if (norms(p) > 0) {
            val vp = vs(p)
            require(vp.length == dim,
              s"semDup: vector dims differ within a cell ($dim vs ${vp.length})")
            var s = 0.0
            var d = 0
            while (d < dim) { s += vp(d) * vj(d); d += 1 }
            if (s / (norms(p) * norms(j)) >= tau) found = p
          }
          p += 1
        }
        if (found >= 0) {
          out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](ids.getLong(j), ids.getLong(found))))
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}
