package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftVecOps

/** Product quantization (Jégou, Douze, Schmid 2011) — the memory-bound
  * end of the ANN ladder ([[Similarity]]: brute → sign-LSH → IVF →
  * IVF-trained; PQ compresses each vector to `m` sub-codes so a
  * 10⁹-vector index fits executor memory: 64 float32 dims = 256 B become
  * m bytes). Each of the `m` subspaces trains its own k-codeword
  * codebook by the deterministic Lloyd discipline of [[Clustering]]
  * (first-k-by-id seeds and fixed rounds as in [[Clustering.kmeans]],
  * micros-integer centroid means, (dist asc, code asc) argmin ties; an
  * emptied codeword keeps its centroid, as in
  * [[Clustering.kmeansConverged]]) in its own multi-subspace loop, one
  * corpus pass per round for all subspaces, so the trained codebook,
  * the encoding, and the asymmetric-distance search are all exactly
  * mirrorable by the driver's DuckDB gate — an unusual property for an
  * ANN index, and the reason the registry can hash-check it.
  *
  * Scale shape:
  *  - '''train''' — ONE corpus pass per Lloyd round for ALL subspaces
  *    together (not m passes): the per-subspace argmin codes are m
  *    compiled-kernel columns in a single projection over literal
  *    centroid matrices, and the update explodes each vector's dims ONCE
  *    (every dim belongs to exactly one subspace) into a
  *    (sub, code, dim)-keyed aggregation — map-side combine collapses
  *    each partition to ≤ k·dim rows, and the driver collects the
  *    k·dim-row result per round (the [[Clustering]] posture).
  *  - '''encode''' — zero-shuffle projection: m kernel argmins over
  *    literal matrices.
  *  - '''search (ADC)''' — the query precomputes its m×k distance table
  *    DRIVER-side (integer micros); scoring a vector is a fold over its
  *    m codes against the literal table — zero shuffle, integer sums;
  *    top-k via orderBy+limit (TakeOrderedAndProject).
  *
  * Determinism: centroid components are `sum(round(x·1e6)) / (n·1e6)`
  * (integer numerators — order-independent); all squared-distance folds
  * run in ascending dim order (IEEE mult/add are exactly rounded, so
  * both engines produce bit-identical doubles); ADC table entries are
  * rounded to integer micros before the (integer) score sum.
  *
  * Contract: vectors are non-null, length `dim`, and `dim % m == 0`
  * (callers filter; a wrong-length vector errors in the kernel). */
object Pq {

  /** Driver-resident codebook: `cents(sub)(code)(j)` over the subspace's
    * `dim/m` dims. */
  final case class PqModel(dim: Int, m: Int, k: Int,
      cents: Array[Array[Array[Double]]]) {
    def subDim: Int = dim / m
  }

  /** Per-subspace argmin code columns over the model's literal matrices:
    * `__c0 … __c(m-1)`. */
  private def codeCols(v: Column, model: PqModel): Seq[Column] =
    (0 until model.m).map { s =>
      graft.functions.HashFunctions.nearestSqDist(
        slice(v, s * model.subDim + 1, model.subDim),
        typedlit(GraftVecOps.flatMatrix(model.cents(s).map(_.toSeq)).toSeq), model.subDim)
        .getItem(0).cast("int").as(s"__c$s")
    }

  /** Train an m×k codebook with `iters` Lloyd rounds (seeds: each
    * subspace of the k smallest-id non-null vectors). */
  def pqTrain(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int = 2): PqModel = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(k > 0 && iters > 0, "need k > 0 and iters > 0")
    val sd = dim / m
    val vecs = vectors
      .select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    val seeds = vecs.orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == k, s"pqTrain: only ${seeds.length} non-null vectors for k=$k")
    seeds.foreach(s => require(s.length == dim,
      s"pqTrain: expected $dim-dim vectors, got ${s.length}"))
    var cents: Array[Array[Array[Double]]] =
      Array.tabulate(m, k)((s, c) => java.util.Arrays.copyOfRange(seeds(c), s * sd, (s + 1) * sd))
    var it = 0
    while (it < iters - 1) {
      val model = PqModel(dim, m, k, cents)
      // one corpus pass: codes for all subspaces, dims exploded once
      val rows = vecs
        .select(col("v"), array(codeCols(col("v"), model): _*).as("codes"))
        .select(col("codes"), posexplode(col("v")).as(Seq("dim", "x")))
        .select(
          (col("dim") / sd).cast("int").as("sub"),
          element_at(col("codes"), (col("dim") / sd).cast("int") + 1).as("code"),
          col("dim"), col("x"))
        .groupBy("sub", "code", "dim")
        .agg(sum(round(col("x") * 1e6).cast("long")).as("s"), count(lit(1)).as("n"))
        .collect() // ≤ k·dim rows, the Clustering per-round posture
      val next = Array.tabulate(m, k)((s, c) => cents(s)(c).clone())
      rows.foreach { r =>
        val sub = r.getInt(0)
        val code = r.getInt(1)
        val d = r.getInt(2)
        next(sub)(code)(d - sub * sd) =
          r.getLong(3).toDouble / (r.getLong(4) * 1000000L)
      }
      cents = next
      it += 1
    }
    PqModel(dim, m, k, cents)
  }

  /** Codebook as a frame for persistence and the oracle:
    * (sub, code, dim, c) with GLOBAL dim indices. */
  def modelDf(spark: org.apache.spark.sql.SparkSession, model: PqModel): DataFrame = {
    import spark.implicits._
    (for {
      s <- 0 until model.m
      c <- 0 until model.k
      j <- 0 until model.subDim
    } yield (s, c, s * model.subDim + j, model.cents(s)(c)(j)))
      .toDF("sub", "code", "dim", "c")
  }

  /** Encode every vector: (vec_id, sub, code) exploded rows — the
    * compressed index a serving tier persists (m small ints per vector).
    * Zero shuffle. */
  def pqEncode(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      model: PqModel): DataFrame = {
    val vecs = vectors
      .select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    vecs
      .select(col("vec_id"), array(codeCols(col("v"), model): _*).as("codes"))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
  }

  /** Flattened centroid matrix of an m=1 (full-space) model — the coarse
    * quantizer of [[ivfPqSearch]]. */
  private def coarseFlat(coarse: PqModel): Seq[Double] = {
    require(coarse.m == 1, s"coarse quantizer must be m=1, got m=${coarse.m}")
    GraftVecOps.flatMatrix(coarse.cents(0).map(_.toSeq)).toSeq
  }

  /** Per-row coarse cell + residual columns: `__cell` (argmin cell by the
    * kernel's (dist asc, code asc) rule) and `__res` (v − centroid,
    * element-wise exact IEEE subtraction — deterministic and exactly
    * mirrorable). Zero shuffle. */
  private def withResidual(vecs: DataFrame, coarse: PqModel): DataFrame = {
    // compiled residual kernel: the transform/element_at HOF spelling is
    // CodegenFallback (interpreted per row) and this projection fronts
    // every IVF-PQ train/encode/search pass (guide §4); the subtraction
    // order and values are bit-identical
    val flatLit = typedlit(coarseFlat(coarse))
    vecs
      .withColumn("__cell", codeCols(col("v"), coarse).head)
      .withColumn("__res", graft.functions.HashFunctions.residual(
        col("v"), flatLit, col("__cell"), coarse.dim))
  }

  /** Train the two-stage IVF-PQ index (Jégou et al. 2011 §III): a coarse
    * full-space quantizer of `cells` centroids (an m=1 [[pqTrain]] — the
    * same deterministic Lloyd), then a product quantizer over the
    * RESIDUALS v − c(v) (where the actual information is once the cell
    * is known). Both trainings are corpus passes with ≤ k·dim rows
    * through each exchange; everything else is zero-shuffle projection. */
  def ivfPqTrain(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      cells: Int,
      m: Int,
      k: Int,
      coarseIters: Int = 2,
      pqIters: Int = 2): (PqModel, PqModel) = {
    val coarse = pqTrain(vectors, idCol, vecCol, dim, m = 1, k = cells,
      iters = coarseIters)
    val vecs = vectors
      .select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    val residuals = withResidual(vecs, coarse)
      .select(col("vec_id"), col("__res").as("res"))
    val pq = pqTrain(residuals, "vec_id", "res", dim, m, k, pqIters)
    (coarse, pq)
  }

  /** IVF-PQ search: probe the `nProbes` cells nearest the query (exact
    * driver-side distances over `cells` centroids), then ADC-score ONLY
    * the vectors assigned to those cells with a per-cell residual
    * distance table (qr = q − c_cell). The scan shape at 10⁹ vectors:
    * the un-probed cells' vectors are filtered by an integer equality on
    * the kernel-computed cell — with a persisted (cell)-partitioned
    * encode table this is partition pruning; here it is a zero-shuffle
    * filter+projection per probe, unioned, then TakeOrderedAndProject.
    * Returns (vec_id, cell, dist_micros), top `topK` by
    * (dist asc, vec_id asc). */
  def ivfPqSearch(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: PqModel,
      pq: PqModel,
      query: Array[Double],
      nProbes: Int,
      topK: Int): DataFrame = {
    require(query.length == coarse.dim,
      s"ivfPqSearch: query has ${query.length} dims, model ${coarse.dim}")
    require(nProbes >= 1 && nProbes <= coarse.k, s"nProbes $nProbes out of range")
    val cents = coarse.cents(0)
    // probe order: exact squared distance, (dist asc, cell asc) ties
    val probed = cents.indices
      .map { c =>
        var acc = 0.0
        var j = 0
        while (j < coarse.dim) {
          val d = query(j) - cents(c)(j)
          acc += d * d
          j += 1
        }
        (math.round(acc * 1e6), c)
      }
      .sorted.take(nProbes).map(_._2)
    val vecs = vectors
      .select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    val assigned = withResidual(vecs, coarse)
    val sd = pq.subDim
    val perCell = probed.map { c =>
      // residual query and its ADC table for THIS cell
      val qr = new Array[Double](coarse.dim)
      var j = 0
      while (j < coarse.dim) { qr(j) = query(j) - cents(c)(j); j += 1 }
      val table = new Array[Long](pq.m * pq.k)
      var s = 0
      while (s < pq.m) {
        var cc = 0
        while (cc < pq.k) {
          var acc = 0.0
          var jj = 0
          while (jj < sd) {
            val d = qr(s * sd + jj) - pq.cents(s)(cc)(jj)
            acc += d * d
            jj += 1
          }
          table(s * pq.k + cc) = math.round(acc * 1e6)
          cc += 1
        }
        s += 1
      }
      val tableLit = typedlit(table.toSeq)
      assigned
        .filter(col("__cell") === c)
        .select((col("vec_id") +: lit(c).as("cell") +:
          codeCols(col("__res"), pq)): _*)
        .select(col("vec_id"), col("cell"),
          (0 until pq.m)
            .map(s2 => element_at(tableLit, col(s"__c$s2") + lit(s2 * pq.k) + 1))
            .reduce(_ + _).as("dist_micros"))
    }
    perCell.reduce(_.unionAll(_))
      .orderBy(col("dist_micros").asc, col("vec_id").asc)
      .limit(topK)
  }

  /** The persisted IVF-PQ index rows: (vec_id, cell, c0..c(m-1)) — one
    * row per vector, the coarse cell plus the m residual codes as small
    * ints. THIS is what a serving tier stores (hive-partitioned by
    * `cell`, the index is mutated by appending new drops' rows — the
    * [[Similarity.ivfAssign]] maintenance discipline) and what
    * [[ivfPqSearchOverIndex]] probes with partition pruning. Zero
    * shuffle: cell assignment, residuals and codes are all kernel/HOF
    * projections in one pass. */
  def ivfPqEncode(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: PqModel,
      pq: PqModel): DataFrame = {
    val vecs = vectors
      .select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    withResidual(vecs, coarse)
      .select((col("vec_id") +: col("__cell").as("cell") +:
        codeCols(col("__res"), pq)): _*)
  }

  /** [[ivfPqSearch]] over a PERSISTED index (the [[ivfPqEncode]] rows)
    * instead of the raw vectors: the corpus pass needs only the
    * m-small-int code rows — at 10⁹ vectors the float vectors never
    * load, and with the index laid out cell-partitioned the un-probed
    * cells' files are never read (partition pruning on `cell = c`).
    * Bit-identical to [[ivfPqSearch]] (spec-pinned): the ADC tables are
    * the same driver-side integer-micros tables. */
  def ivfPqSearchOverIndex(
      index: DataFrame,
      coarse: PqModel,
      pq: PqModel,
      query: Array[Double],
      nProbes: Int,
      topK: Int): DataFrame = {
    require(query.length == coarse.dim,
      s"ivfPqSearchOverIndex: query has ${query.length} dims, model ${coarse.dim}")
    require(nProbes >= 1 && nProbes <= coarse.k, s"nProbes $nProbes out of range")
    val cents = coarse.cents(0)
    val probed = cents.indices
      .map { c =>
        var acc = 0.0
        var j = 0
        while (j < coarse.dim) {
          val d = query(j) - cents(c)(j)
          acc += d * d
          j += 1
        }
        (math.round(acc * 1e6), c)
      }
      .sorted.take(nProbes).map(_._2)
    val sd = pq.subDim
    val perCell = probed.map { c =>
      val qr = new Array[Double](coarse.dim)
      var j = 0
      while (j < coarse.dim) { qr(j) = query(j) - cents(c)(j); j += 1 }
      val table = new Array[Long](pq.m * pq.k)
      var s = 0
      while (s < pq.m) {
        var cc = 0
        while (cc < pq.k) {
          var acc = 0.0
          var jj = 0
          while (jj < sd) {
            val d = qr(s * sd + jj) - pq.cents(s)(cc)(jj)
            acc += d * d
            jj += 1
          }
          table(s * pq.k + cc) = math.round(acc * 1e6)
          cc += 1
        }
        s += 1
      }
      val tableLit = typedlit(table.toSeq)
      index
        .filter(col("cell") === c)
        .select(col("vec_id"), col("cell"),
          (0 until pq.m)
            .map(s2 => element_at(tableLit, col(s"__c$s2") + lit(s2 * pq.k) + 1))
            .reduce(_ + _).as("dist_micros"))
    }
    perCell.reduce(_.unionAll(_))
      .orderBy(col("dist_micros").asc, col("vec_id").asc)
      .limit(topK)
  }

  /** Batch [[ivfPqSearchOverIndex]] — the SERVING shape for retrieval
    * workloads: ONE scan of the code index answers the whole
    * (dimension-sized, eagerly collected) query set instead of one scan
    * per query. Each query's probe cells and per-cell residual ADC
    * tables are driver math (Q·nProbes·m·k integer-micros entries); the
    * (query_id, cell, table) probe frame BROADCASTS against the index's
    * cell column — at scale with a cell-partitioned store the scan reads
    * only the UNION of probed cells — and per-row scoring is the same
    * m-code integer fold, table now a joined column instead of a
    * literal. Top-k per query is one window over candidate rows
    * (bounded by probed-cell membership), ties (dist asc, vec_id asc).
    * Single-query agreement with [[ivfPqSearchOverIndex]] is
    * spec-pinned. Returns (query_id, vec_id, cell, dist_micros, rank). */
  def ivfPqSearchBatchOverIndex(
      index: DataFrame,
      coarse: PqModel,
      pq: PqModel,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nProbes: Int,
      topK: Int): DataFrame = {
    require(nProbes >= 1 && nProbes <= coarse.k, s"nProbes $nProbes out of range")
    val qs = collectQueries(queries, idCol, vecCol, coarse,
      "ivfPqSearchBatchOverIndex")
    adcBatch(index, coarse, pq, qs,
      q => rankedCells(q, coarse).take(nProbes), topK)
  }

  /** Distance-ranked ADAPTIVE probing — the batch serving shape with a
    * per-query probe set sized by CANDIDATE BUDGET instead of a fixed
    * cell count: cells are ranked by exact query–centroid distance (the
    * same driver math as the fixed-probe path) and probed in that order
    * until the cumulative OCCUPANCY of probed cells reaches
    * `candidateBudget` (capped at `maxProbes`). On skewed indexes a hot
    * cell satisfies the budget in one probe while sparse regions probe
    * wider — the per-query scan cost is bounded by budget + one cell
    * rather than by worst-case `nProbes · max cell size`. Cell occupancy
    * is a dimension-sized driver aggregate over the code index (≤ cells
    * rows; at scale a cell-partitioned store's file listing gives it for
    * free). Probe selection is deterministic: (dist asc, cell asc)
    * ranking, cumulative-count-exclusive rule (a cell is probed iff the
    * cells ranked before it hold < budget candidates).
    * Returns (query_id, vec_id, cell, dist_micros, rank). */
  def ivfPqSearchAdaptiveBatch(
      index: DataFrame,
      coarse: PqModel,
      pq: PqModel,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      candidateBudget: Long,
      maxProbes: Int,
      topK: Int,
      cellSizes: Option[Map[Int, Long]] = None): DataFrame = {
    require(candidateBudget >= 1, s"candidateBudget $candidateBudget")
    require(maxProbes >= 1 && maxProbes <= coarse.k, s"maxProbes $maxProbes out of range")
    val sizes: Map[Int, Long] = cellSizes.getOrElse(cellOccupancy(index))
    val qs = collectQueries(queries, idCol, vecCol, coarse,
      "ivfPqSearchAdaptiveBatch")
    adcBatch(index, coarse, pq, qs, { q =>
      val ranked = rankedCells(q, coarse)
      val out = Seq.newBuilder[Int]
      var cum = 0L
      var i = 0
      while (i < ranked.length && i < maxProbes && cum < candidateBudget) {
        out += ranked(i)
        cum += sizes.getOrElse(ranked(i), 0L)
        i += 1
      }
      out.result()
    }, topK)
  }

  /** Per-cell occupancy of an encoded index — the ≤cells-row driver
    * aggregate the adaptive probe rule consumes. Compute ONCE per index
    * and pass to repeated [[ivfPqSearchAdaptiveBatch]] /
    * [[ivfPqSearchRerankAdaptive]] calls via `cellSizes` so each search
    * batch costs one index scan, not two (at scale a cell-partitioned
    * store's file listing gives this for free). */
  def cellOccupancy(index: DataFrame): Map[Int, Long] = index
    .groupBy(col("cell").cast("int").as("cell")).count()
    .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Cells ranked by exact query–centroid squared distance in integer
    * micros, ties by cell id — the probe order every search path uses. */
  private def rankedCells(q: Array[Double], coarse: PqModel): Seq[Int] = {
    val cents = coarse.cents(0)
    cents.indices.map { c =>
      var acc = 0.0
      var j = 0
      while (j < coarse.dim) { val d = q(j) - cents(c)(j); acc += d * d; j += 1 }
      (math.round(acc * 1e6), c)
    }.sorted.map(_._2)
  }

  /** Serving-contract bound on the driver-side query collect: batch search
    * builds per-(query, probe) residual tables on the driver, so the query
    * set must be dimension-sized, never corpus-sized. Enforced executably
    * (the verdict-flagged gap): the collect itself is LIMIT-bounded, so an
    * oversized set fails loudly here instead of materializing on the
    * driver first. Split oversized workloads into ≤[[MaxBatchQueries]]
    * batches (reusing [[cellOccupancy]] across them). */
  val MaxBatchQueries: Int = 65536

  private def collectQueries(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: PqModel,
      ctx: String): Array[(Long, Array[Double])] = {
    val qs = queries
      .select(col(idCol).as("query_id"), Similarity.asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
      .limit(MaxBatchQueries + 1) // bounds driver memory BEFORE the check
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    require(qs.length <= MaxBatchQueries,
      s"$ctx: query set exceeds the $MaxBatchQueries-query driver batch " +
        "contract — split into smaller batches (cellOccupancy is reusable)")
    qs.foreach { case (id, q) => require(q.length == coarse.dim,
      s"$ctx: query $id has ${q.length} dims, model ${coarse.dim}") }
    qs
  }

  /** Shared ADC batch scorer: per-query probe cells from `probedOf`,
    * per-(query, cell) residual tables as driver math, the probe frame
    * broadcast against ONE index scan, scoring a joined-column fold,
    * top-k per query by (dist asc, vec_id asc). */
  private def adcBatch(
      index: DataFrame,
      coarse: PqModel,
      pq: PqModel,
      qs: Array[(Long, Array[Double])],
      probedOf: Array[Double] => Seq[Int],
      topK: Int): DataFrame = {
    val spark = index.sparkSession
    val cents = coarse.cents(0)
    val sd = pq.subDim
    val probeRows = qs.flatMap { case (qid, q) =>
      probedOf(q).map { c =>
        val table = new Array[Long](pq.m * pq.k)
        var s = 0
        while (s < pq.m) {
          var cc = 0
          while (cc < pq.k) {
            var acc = 0.0
            var jj = 0
            while (jj < sd) {
              val d = (q(s * sd + jj) - cents(c)(s * sd + jj)) - pq.cents(s)(cc)(jj)
              acc += d * d
              jj += 1
            }
            table(s * pq.k + cc) = math.round(acc * 1e6)
            cc += 1
          }
          s += 1
        }
        (qid, c, table.toSeq)
      }
    }
    import spark.implicits._
    val probes = probeRows.toSeq.toDF("query_id", "cell", "qt")
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist_micros").asc, col("vec_id").asc)
    index
      .join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("vec_id"), col("cell"),
        (0 until pq.m)
          .map(s2 => element_at(col("qt"), col(s"__c$s2") + lit(s2 * pq.k) + 1))
          .reduce(_ + _).as("dist_micros"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** IVF-PQ serving with a FLOAT RE-RANK — the production retrieval shape
    * the C1 recall measurement motivates (SCALE.md "ANN retrieval
    * quality"): 8-byte ADC codes cannot order near-equidistant tail
    * neighbors, so the no-floats index serves a CANDIDATE set
    * (`candidates` ≥ `topK`, typically 3–10×) and only those ids fetch
    * their float vectors for an exact squared-L2 ranking.
    *
    * Scale shape: the candidate frame is dimension-sized (queries ×
    * candidates rows of two longs) and BROADCASTS against the vector
    * table, so the float fetch is ONE semi-joined scan — the Spark-native
    * form of the point-lookup fetch a serving store would do; exact
    * distances use the [[graft.functions.HashFunctions.sqDist]] kernel
    * (the oracle-mirrored fold), quantized to integer micros so the whole
    * result exact-hash-oracles; final top-k is one window over
    * queries × candidates rows, ties (dist asc, vec_id asc).
    *
    * Returns (query_id, vec_id, dist_sq_micros, rank). */
  def ivfPqSearchRerankBatch(
      index: DataFrame,
      coarse: PqModel,
      pq: PqModel,
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      nProbes: Int,
      candidates: Int,
      topK: Int): DataFrame = {
    require(candidates >= topK,
      s"ivfPqSearchRerankBatch: candidates $candidates < topK $topK")
    val cand = ivfPqSearchBatchOverIndex(index, coarse, pq, queries,
      idCol, vecCol, nProbes, candidates)
      .select(col("query_id"), col("vec_id"))
    rerank(cand, vectors, idCol, vecCol, queries, topK)
  }

  /** [[ivfPqSearchRerankBatch]] with the ADAPTIVE probe rule: the
    * candidate set comes from [[ivfPqSearchAdaptiveBatch]] (probe until
    * `candidateBudget` occupancy, cap `maxProbes`), then the float
    * re-rank. The budget IS the scan-cost dial on the measured
    * recall/cost curve (SCALE.md "ANN retrieval quality"): target
    * recall@100 of f permille on a worst-case (isotropic-tail)
    * distribution needs probed occupancy ≈ f/1000 of the corpus —
    * clustered real corpora need far less; the curve, not a formula, is
    * the sizing rule. */
  def ivfPqSearchRerankAdaptive(
      index: DataFrame,
      coarse: PqModel,
      pq: PqModel,
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      candidateBudget: Long,
      maxProbes: Int,
      candidates: Int,
      topK: Int,
      cellSizes: Option[Map[Int, Long]] = None): DataFrame = {
    require(candidates >= topK,
      s"ivfPqSearchRerankAdaptive: candidates $candidates < topK $topK")
    val cand = ivfPqSearchAdaptiveBatch(index, coarse, pq, queries,
      idCol, vecCol, candidateBudget, maxProbes, candidates, cellSizes)
      .select(col("query_id"), col("vec_id"))
    rerank(cand, vectors, idCol, vecCol, queries, topK)
  }

  private def rerank(
      cand: DataFrame,
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      topK: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"),
      Similarity.asDouble(col(vecCol)).as("__qv"))
    val cv = vectors.select(col(idCol).as("vec_id"),
      Similarity.asDouble(col(vecCol)).as("__cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist_sq_micros").asc, col("vec_id").asc)
    cv.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.HashFunctions.sqDist(col("__qv"), col("__cv")) * 1e6)
          .cast("long").as("dist_sq_micros"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Asymmetric-distance top-k: the query's m×k table of
    * `round(sqDist(query_sub, codeword)·1e6)` entries is computed on the
    * driver; every vector's score is the integer sum of its m table
    * entries. Returns (vec_id, dist_micros), the k nearest by
    * (dist asc, vec_id asc). */
  def pqTopKWith(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      model: PqModel,
      query: Array[Double],
      k: Int): DataFrame = {
    require(query.length == model.dim,
      s"pqTopKWith: query has ${query.length} dims, model ${model.dim}")
    val sd = model.subDim
    // ascending-dim fold: same order as the SQL mirror -> same bits
    val table = new Array[Long](model.m * model.k)
    var s = 0
    while (s < model.m) {
      var c = 0
      while (c < model.k) {
        var acc = 0.0
        var j = 0
        while (j < sd) {
          val dlt = query(s * sd + j) - model.cents(s)(c)(j)
          acc += dlt * dlt
          j += 1
        }
        table(s * model.k + c) = math.round(acc * 1e6)
        c += 1
      }
      s += 1
    }
    val tableLit = typedlit(table.toSeq)
    val vecs = vectors
      .select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    vecs
      .select(col("vec_id") +: codeCols(col("v"), model): _*)
      .select(col("vec_id"),
        (0 until model.m)
          .map(s2 => element_at(tableLit, col(s"__c$s2") + lit(s2 * model.k) + 1))
          .reduce(_ + _).as("dist_micros"))
      .orderBy(col("dist_micros").asc, col("vec_id").asc)
      .limit(k)
  }
}
