package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Principal-component analysis over an embedding corpus — the standard
  * dimensionality-reduction / decorrelation step before clustering,
  * indexing, or whitening embeddings at scale.
  *
  * Scale shape (the Spark-ML covariance-PCA pattern, re-derived):
  *  - ONE distributed aggregation computes the d first moments and the
  *    d(d+1)/2 upper-triangle second moments: each row explodes to its
  *    moment contributions and the map-side partial aggregation collapses
  *    every partition to ≤ d(d+3)/2 rows before anything ships — the
  *    shuffle is O(d²) per partition, never O(corpus) (the same
  *    posexplode-micro-sum discipline as [[Clustering]]'s centroid
  *    update);
  *  - the d×d covariance is DIMENSION-sized, so the eigendecomposition
  *    runs on the driver: a deterministic cyclic Jacobi sweep (the
  *    classic symmetric-matrix solver) — O(d³) per sweep, microseconds
  *    at embedding dimensionalities;
  *  - projection is a ZERO-shuffle kernel: mean and loadings bake in as
  *    literals and each row folds its (x−μ)·vᶜ dot products in place.
  *
  * Determinism: the moment sums are micros-quantized EXACT decimal
  * integer sums (order- and partitioning-independent — see [[moments]]),
  * and Jacobi is a fixed deterministic sweep, so the trained model is
  * bit-reproducible. DuckDB has no eigensolver, so the model is checked
  * by INVARIANT oracle (the q_detailed_approx self-referential pattern):
  * the gate recomputes the covariance TO THE BIT from the same integer
  * sums in HUGEINT and asserts the eigen equation `C·v = λ·v` (residual
  * covers only Jacobi convergence), orthonormality `VᵀV = I`, exact mean
  * equality, and descending eigenvalues against the dumped model. The
  * PROJECTION is exact-hash-checkable: both engines fold the same
  * doubles in the same order against the same dumped model values.
  * Eigenvector sign is normalized (largest-|component| positive, ties to
  * the lower dim) so the basis is unique.
  */
object Pca {

  /** Trained model as one table:
    * comp ≥ 0 → loading rows (comp, dim, loading, eigval);
    * comp = −1 → mean rows (−1, dim, μ_dim, 0.0).
    * `dim` is 0-based; exactly `k` components, eigenvalues descending. */
  def pcaModel(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int): DataFrame = {
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim, got k=$k dim=$dim")
    val (n, mean, cov) = moments(embeddings, vecCol, dim)
    buildModel(embeddings.sparkSession, n, mean, cov, dim, k)
  }

  /** Mergeable PCA moment state of one corpus drop — the incremental
    * counterpart of [[pcaModel]]'s one-pass aggregation, persistable as a
    * plain table: rows `(i, j, s)` with `j = -1` first moments, `i <= j`
    * upper-triangle second moments, and one `(-2, -2, n)` count row; all
    * sums are micros-quantized exact `decimal(38,0)` integers, so states
    * from any corpus split MERGE by plain addition into bit-identical
    * totals — "PCA of everything so far" costs O(drops) dimension-sized
    * work, each drop is scanned exactly once ever
    * ([[graft.llm.Profile]]'s `state`/`merge` discipline). */
  def state(embeddings: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val vecs = embeddings
      .filter(col(vecCol).isNotNull)
      .select(transform(Similarity.asDouble(col(vecCol)),
        x => round(x * 1e6).cast("long")).as("q"))
    // ONE corpus pass, ONE mergeable aggregate, ZERO explode: each task
    // folds its vectors into a fixed d(d+3)/2-cell exact 128-bit
    // accumulator ([[graft.functions.PcaMomentSums]]) — the previous
    // explode shipped d(d+3)/2 + 1 struct rows PER VECTOR into a hash
    // re-aggregation (2 145× row inflation at d = 64; guide §2.3). Sums
    // are bit-identical exact integers; the (-2, -2, n) count row comes
    // out of the same aggregate. An empty drop yields an empty state (no
    // rows — the aggregate emits an empty array); merging it is a no-op
    // and training on only empty states still fails the n >= 2 guard,
    // as before.
    vecs
      .agg(graft.functions.PcaMomentSums(col("q"), dim).as("a"))
      .select(explode(col("a")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.s").as("s"))
  }

  /** Train the model from merged per-drop states: fold the exact decimal
    * sums (addition — order/split-invariant), then the identical
    * mean/covariance/Jacobi path as [[pcaModel]]. Bit-identical to
    * training on the union corpus directly (spec-pinned; `q_pca_incr`
    * shares `q_pca_train`'s oracle verbatim). */
  def pcaModelFromStates(states: Seq[DataFrame], dim: Int, k: Int): DataFrame = {
    require(states.nonEmpty, "pcaModelFromStates: no states")
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim, got k=$k dim=$dim")
    val merged = states.reduce(_ unionByName _)
      .groupBy("i", "j").agg(sum("s").as("s"))
      .collect()
    var n = 0L
    val s1 = new Array[Double](dim)
    val s2 = Array.ofDim[Double](dim, dim)
    merged.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val s = r.getDecimal(2)
      if (i == -2) n = s.longValueExact()
      else if (j == -1) s1(i) = s.doubleValue()
      else { s2(i)(j) = s.doubleValue(); s2(j)(i) = s.doubleValue() }
    }
    val mean = s1.map(_ / (n * 1e6))
    val cov = Array.tabulate(dim, dim)((i, j) =>
      s2(i)(j) / (n * 1e12) - mean(i) * mean(j))
    buildModel(states.head.sparkSession, n, mean, cov, dim, k)
  }

  private def buildModel(
      spark: org.apache.spark.sql.SparkSession,
      n: Long,
      mean: Array[Double],
      cov: Array[Array[Double]],
      dim: Int,
      k: Int): DataFrame = {
    require(n >= 2, s"PCA needs at least 2 vectors, got $n")
    val (eigvals, eigvecs) = jacobiEigen(cov)
    // order (eigval desc, then by original index for exact ties);
    // normalize sign: largest-|component| positive, ties to lower dim
    val order = eigvals.indices.sortBy(i => (-eigvals(i), i)).take(k)
    val rows = order.zipWithIndex.flatMap { case (src, c) =>
      val v = eigvecs.map(_(src))
      var best = 0
      var j = 1
      while (j < dim) {
        if (math.abs(v(j)) > math.abs(v(best))) best = j
        j += 1
      }
      val s = if (v(best) < 0) -1.0 else 1.0
      (0 until dim).map(d => Row(c, d, s * v(d), eigvals(src)))
    } ++ (0 until dim).map(d => Row(-1, d, mean(d), 0.0))
    DriverTable(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("dim",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("loading",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("eigval",
          org.apache.spark.sql.types.DoubleType, nullable = false))),
      rows)
  }

  /** Project every vector onto a trained model: (vec_id, comp,
    * proj_micros) — `proj = Σ_j (x_j − μ_j)·v_cj` folded in ascending
    * dim order (the exact fold the oracle mirrors), reported in micros.
    * Zero-shuffle: mean and loadings are literals. NULL vectors are
    * dropped (nothing to project); a wrong-length vector errors. */
  def pcaProject(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      model: DataFrame): DataFrame = {
    val m = model.collect()
    // validate BEFORE deriving k: empty.max on an empty model would
    // throw an opaque UnsupportedOperationException instead of this
    // diagnostic (same for dim=0 reaching the array sizing below)
    val dim = m.count(_.getInt(0) == -1)
    require(m.nonEmpty && dim > 0,
      "pcaProject: malformed model (empty or missing comp=-1 mean rows)")
    val k = m.map(_.getInt(0)).max + 1
    require(k > 0, "pcaProject: malformed model")
    val mu = new Array[Double](dim)
    val load = Array.ofDim[Double](k, dim)
    m.foreach { r =>
      if (r.getInt(0) == -1) mu(r.getInt(1)) = r.getDouble(2)
      else load(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
    }
    // Compiled kernel: one pass folds all k components per row with the
    // identical j-ascending sums and round()·cast(long) quantization the
    // HOF spelling produced (guide §4 — the k aggregate lambdas were
    // CodegenFallback, interpreted per row). A wrong-length vector still
    // ERRORS (the doc contract), now inside the kernel.
    val muLit = typedlit(mu.toSeq)
    val loadLit = typedlit(load.flatten.toSeq)
    embeddings
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        Similarity.asDouble(col(vecCol)).as("__v"))
      .select(col("vec_id"),
        posexplode(graft.functions.HashFunctions.pcaProjectAll(
          col("__v"), muLit, loadLit, dim)).as(Seq("comp", "proj_micros")))
  }

  /** PCA-whitened projections (Su et al. 2021-style embedding
    * whitening — the standard decorrelation step before cosine
    * similarity/dedup): [[pcaProject]] scaled per component by
    * `1/sqrt(eigval)`, so whitened components have unit variance.
    * (vec_id, comp, white_micros); components with eigval ≤ `minVar`
    * are DROPPED (no variance to whiten — dividing by ~0 amplifies
    * noise; the standard guard). Zero-shuffle, same exact-fold
    * determinism as [[pcaProject]]. */
  def pcaWhiten(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      model: DataFrame,
      minVar: Double = 1e-12): DataFrame = {
    val eig = model.filter(col("comp") >= 0)
      .select("comp", "eigval").distinct().collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val keep = eig.filter(_._2 > minVar).keys.toSeq.sorted
    require(keep.nonEmpty, s"pcaWhiten: no component has variance > $minVar")
    // proj_micros / 1e6 recovers the projection; scale and re-quantize
    // (micros-in, micros-out keeps the whole chain integer-checkable)
    val scaleMap = typedlit(keep.map(c => c -> 1.0 / math.sqrt(eig(c))).toMap)
    pcaProject(embeddings, idCol, vecCol, model)
      .filter(col("comp").isin(keep: _*))
      .select(col("vec_id"), col("comp"),
        round((col("proj_micros").cast("double") / 1e6) *
          element_at(scaleMap, col("comp")) * 1e6)
          .cast("long").as("white_micros"))
  }

  /** One-pass moments: (n, mean, covariance). The aggregation ships
    * O(d²) rows per partition (map-side combine over the exploded
    * (i, j, xq_i·xq_j) triples).
    *
    * Determinism: per-row components quantize to micros longs and the
    * moment sums run in decimal(38,0) — EXACT integer sums, independent
    * of partitioning and merge order (double sums are not), so the
    * trained model is bit-reproducible run to run and the oracle can
    * recompute the covariance to the BIT in HUGEINT before checking the
    * eigen equation. mean = S1/(n·1e6), cov = S2/(n·1e12) − mean·meanᵀ,
    * evaluated in doubles with exactly this operation order. */
  private def moments(
      embeddings: DataFrame,
      vecCol: String,
      dim: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val vecs = embeddings
      .filter(col(vecCol).isNotNull)
      .select(transform(Similarity.asDouble(col(vecCol)),
        x => round(x * 1e6).cast("long")).as("q"))
    // upper triangle (i <= j) plus the first moments as j = -1 rows and
    // the (-2, -2, n) count row, all out of ONE mergeable exact-128-bit
    // aggregate ([[graft.functions.PcaMomentSums]] — see state()): no
    // per-row contribution explode, no hash re-aggregation, no second
    // corpus-scanning count() (guide §2.3). Micros products stay ≤ 1e14
    // and the 128-bit cells are exact at any corpus size; the collected
    // decimals are bit-identical to the previous decimal(38,0) SUMs.
    val contrib = vecs
      .agg(graft.functions.PcaMomentSums(col("q"), dim).as("a"))
      .select(explode(col("a")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.s").as("s"))
      .collect()
    var n = 0L
    val s1 = new Array[Double](dim)
    val s2 = Array.ofDim[Double](dim, dim)
    contrib.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      if (i == -2) n = r.getDecimal(2).longValueExact()
      else {
        val s = r.getDecimal(2).doubleValue()
        if (j == -1) s1(i) = s else { s2(i)(j) = s; s2(j)(i) = s }
      }
    }
    val mean = s1.map(_ / (n * 1e6))
    val cov = Array.tabulate(dim, dim)((i, j) =>
      s2(i)(j) / (n * 1e12) - mean(i) * mean(j))
    (n, mean, cov)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix with vectors in COLUMNS). Plain
    * deterministic sweeps to machine precision — d is dimension-sized,
    * so O(d³) per sweep is driver noise. */
  private[llm] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-14 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case x => x
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { if (i != j) s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }
}
