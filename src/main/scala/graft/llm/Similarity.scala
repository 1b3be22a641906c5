package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * Two paths, mirroring the brute-force-baseline / bucketed-scale split a
  * 100 TB corpus needs:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k. The query set is broadcast
  *    (it is dimension-sized by construction), so the plan is a single
  *    BroadcastNestedLoopJoin over the corpus scan — no shuffle of the
  *    corpus at all; the per-partition top-k is finished by a small
  *    row_number window on (query, cosine).
  *  - [[hyperplaneBuckets]] / [[nearDupPairs]]: random-hyperplane LSH.
  *    Bucket ids come from sign bits of dot products with `nPlanes`
  *    deterministic pseudo-random hyperplanes, so candidate generation is
  *    an equi-join on the bucket id (shuffle on a long, never all-pairs).
  *
  * Float math portability: all folds run sequentially left-to-right in
  * Double (Catalyst `aggregate` with a 0.0 seed; DuckDB `list_reduce`),
  * which makes cosine bit-identical across engines — required for the
  * driver's exact hash compare. The hyperplane components are integer
  * arithmetic cast to double: `((j*1000003 + i*7919) % 2001) - 1000`.
  */
object Similarity {

  /** Elementwise-double view of a float-array embedding column. An array
    * CAST, not `transform(v, _.cast("double"))`: the element-wise Cast is
    * identical (float→double widening), but higher-order functions are
    * CodegenFallback — interpreted per row — while Cast generates code
    * (guide §4: no non-codegen expressions in the per-row hot path; this
    * projection fronts every vector operator). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product of two equal-length double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, p) => acc + p)

  /** Cosine similarity; assumes non-zero vectors. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Deterministic hyperplane component for plane j, dimension i (1-based):
    * integer in [-1000, 1000], SQL-expressible on both engines. */
  private def planeComponent(j: Int, i: Column): Column =
    (((lit(j) * 1000003 + i * 7919) % 2001) - 1000).cast("double")

  /** Sign-bit LSH bucket id from `nPlanes` hyperplanes (bucket space =
    * 2^nPlanes). `dim` is the embedding dimensionality. */
  def hyperplaneBucket(vecDouble: Column, dim: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { j =>
      val d = aggregate(
        transform(sequence(lit(1), lit(dim)), i => element_at(vecDouble, i) * planeComponent(j, i)),
        lit(0.0),
        (acc, p) => acc + p)
      when(d >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (id, bucket) assignment for every vector. */
  def hyperplaneBuckets(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nPlanes: Int): DataFrame =
    vectors.select(
      col(idCol).as("vec_id"),
      hyperplaneBucket(asDouble(col(vecCol)), dim, nPlanes).as("bucket"))

  /** Near-duplicate vector pairs: same LSH bucket AND exact cosine >=
    * `minCosine`. Returns (vec_a, vec_b, cosine), vec_a < vec_b. */
  private def kdot(a: Column, b: Column): Column = graft.functions.HashFunctions.dot(a, b)

  /** (id, v, norm, bucket) projection shared by the LSH paths. Uses the
    * compiled kernels ([[graft.functions.GraftVecOps]]) — bit-identical to
    * the HOF forms above, pinned by VecFunctionsSpec. */
  private[llm] def withBuckets(vectors: DataFrame, idCol: String, vecCol: String, nPlanes: Int): DataFrame =
    vectors.select(
      col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("v"),
      sqrt(kdot(asDouble(col(vecCol)), asDouble(col(vecCol)))).as("norm"),
      graft.functions.HashFunctions.hyperplaneBucket(asDouble(col(vecCol)), nPlanes).as("bucket"))

  def nearDupPairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nPlanes: Int = 6,
      minCosine: Double = 0.3): DataFrame = {
    // norm is computed once per vector, not once per pair (3x fewer folds)
    val withBucket = withBuckets(vectors, idCol, vecCol, nPlanes)
    val a = withBucket.select(col("bucket"), col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val b = withBucket.select(col("bucket"), col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (kdot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Approximate cosine top-k, the ANN scale path: candidates are
    * restricted to the query's LSH bucket (an equi-join on the bucket id —
    * no corpus broadcast, no all-pairs), then ranked exactly. Recall is
    * tunable via `nPlanes` (fewer planes → bigger buckets → higher recall,
    * more compute); multiprobe (flipping low-confidence bits) is the
    * standard next refinement. Returns (query_id, neighbor_id, cosine,
    * rank). */
  def lshTopK(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      nPlanes: Int = 4,
      multiprobe: Int = 0): DataFrame = {
    val all = withBuckets(vectors, idCol, vecCol, nPlanes)
    // multiprobe: also search the buckets at hamming distance 1 from the
    // query's bucket (flip each of the first `multiprobe` sign bits) — the
    // standard recall/compute dial for sign-LSH, still an equi-join
    val probes: Column =
      array((col("bucket") +: (0 until multiprobe).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j)))): _*)
    val queries = all
      .filter(col("vec_id").isin(queryIds: _*))
      .select(explode(probes).as("bucket"),
        col("vec_id").as("query_id"), col("v").as("vq"), col("norm").as("nq"))
    val corpus = all.select(col("bucket"), col("vec_id").as("neighbor_id"), col("v").as("vn"), col("norm").as("nn"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (kdot(col("vq"), col("vn")) / (col("nq") * col("nn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style approximate top-k, the centroid-partitioned scale path.
    *
    * The corpus is assigned to `nCentroids` cells by nearest centroid
    * (cosine, ties to the lower centroid id); each query searches only its
    * `nProbes` nearest cells. Assignment is one broadcast of the
    * dimension-sized centroid set against the unshuffled corpus scan; the
    * search is an equi-join on the cell id — the same
    * shuffle-on-a-small-key shape as [[lshTopK]], but with data-adaptive
    * cells (centroids sit where the vectors are, unlike fixed hyperplane
    * signs) and a recall dial (`nProbes`) that scans a predictable
    * fraction of the corpus.
    *
    * Centroids are picked deterministically (the `nCentroids` lowest ids)
    * so the operator is oracle-checkable end to end; a production run
    * would feed k-means centroids in the same shape — the dataflow is
    * identical, only the centroid table changes.
    * Returns (query_id, neighbor_id, cosine, rank). */
  def ivfTopK(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      nCentroids: Int = 16,
      nProbes: Int = 4): DataFrame = {
    val centroids = vectors
      .select(col(idCol).as("centroid_id"), asDouble(col(vecCol)).as("vc"))
      .filter(col("centroid_id") < nCentroids)
    ivfTopKWith(vectors, idCol, vecCol, centroids, queryIds, k, nProbes)
  }

  /** (vec_id, v, norm) with zero-norm vectors excluded — the shared
    * corpus entry of the IVF operators. An all-zero vector has no cosine
    * to anything (0/0 = NaN, which ranks ABOVE every real cosine in the
    * top-k window) — excluded from the index rather than letting it head
    * every result list; mirrored in the q_ann_ivf oracle (WHERE norm > 0).
    * asDouble mirrors the corpus/vector entry points: a raw float-array
    * embedding column must not misread as array&lt;float&gt; at kdot
    * time. */
  private def normedVectors(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(
      col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("v"),
      sqrt(kdot(asDouble(col(vecCol)), asDouble(col(vecCol)))).as("norm"))
      .filter(col("norm") > 0)

  /** EAGERLY materialized quantizer rows (centroid_id, vc, nc), ordered
    * so the kernel's first-wins rule IS the (c_cos desc, centroid_id asc,
    * null ids lose) max_by tiebreak. Zero-norm centroids are dropped (a
    * trained quantizer can emit one when opposing vectors cancel; its
    * NaN cosine would swallow the whole corpus — members re-route to
    * their next cell; mirrored in the q_ann_ivf oracle, AND nc > 0). */
  private def quantizerRows(
      centroidTable: DataFrame): (Seq[org.apache.spark.sql.Row], org.apache.spark.sql.types.DataType) = {
    val centroids = centroidTable.select(
      col("centroid_id"), asDouble(col("vc")).as("vc"),
      sqrt(kdot(asDouble(col("vc")), asDouble(col("vc")))).as("nc"))
      .filter(col("nc") > 0)
    val cellType = centroids.schema("centroid_id").dataType
    val rows = Clustering.inIdOrder(centroids.collect().toSeq, cellType,
      org.apache.spark.sql.catalyst.expressions.NullsLast)(_.get(0))
    (rows, cellType)
  }

  /** (cell, vec_id, vn, nn, c_cos): per-row compiled-kernel argmax over
    * the LITERAL flattened centroid matrix plus a positional lookup of
    * the winning index in a literal array of the cell ids
    * ([[Clustering.centroidIds]]) — a pure projection; no corpus
    * shuffle, no aggregate, no join. `base` holds no NULL vector (its
    * norm > 0 filter drops them), so the kernel's index is never NULL
    * and every row gets the cell at that index. */
  private def kernelAssigned(
      base: DataFrame,
      centRows: Seq[org.apache.spark.sql.Row],
      cellType: org.apache.spark.sql.types.DataType): DataFrame = {
    val cvecs = centRows.map(_.getSeq[Double](1))
    val flat = graft.functions.GraftVecOps.flatMatrix(cvecs)
    val dim = cvecs.head.length
    val ncs = centRows.map(_.getDouble(2))
    base
      .select(col("vec_id"), col("v").as("vn"), col("norm").as("nn"),
        graft.functions.HashFunctions.bestCosine(
          col("v"), col("norm"), typedLit(flat), typedLit(ncs), dim).as("__best"))
      .select(col("vec_id"), col("vn"), col("nn"),
        col("__best").getItem(0).cast("int").as("__ci"),
        col("__best").getItem(1).as("c_cos"))
      .select(
        element_at(Clustering.centroidIds(centRows.map(_.get(0)), cellType),
          col("__ci") + 1).as("cell"),
        col("vec_id"), col("vn"), col("nn"), col("c_cos"))
  }

  /** IVF index postings for a vector batch against a quantizer — the
    * INCREMENTAL-maintenance form of the IVF index build: a new embedding
    * drop is assigned to its cells in ONE map-only pass (the zero-shuffle
    * kernel argmax of [[ivfTopKWith]]'s corpus side, factored out) and
    * the resulting rows append to a persisted posting table; nothing
    * existing is rewritten, and search reads postings ∪ new rows through
    * the identical (cell)-keyed join. Same EAGER centroid materialization,
    * unique-id contract, and zero-norm exclusions as [[ivfTopKWith]].
    * `c_cos` (the vector's cosine to its own cell centroid) rides along
    * as the standard index-quality signal — a falling batch mean says the
    * quantizer no longer fits the drift and it is time to retrain.
    * Returns (cell, vec_id, c_cos). */
  def ivfAssign(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      centroidTable: DataFrame): DataFrame = {
    val base = normedVectors(vectors, idCol, vecCol)
    val (centRows, cellType) = quantizerRows(centroidTable)
    if (centRows.isEmpty)
      return base
        .select(lit(null).cast(cellType).as("cell"), col("vec_id"), lit(0.0).as("c_cos"))
        .filter(lit(false))
    kernelAssigned(base, centRows, cellType)
      .select(col("cell"), col("vec_id"), col("c_cos"))
  }

  /** [[ivfTopK]] against a TRAINED coarse quantizer: `centroids` is any
    * (centroid_id, vc: array&lt;double&gt;) table — in production the
    * centroid table of [[Clustering.kmeansConvergedModel]], which places
    * cells where the vectors actually are.
    *
    * Cell assignment is ZERO-SHUFFLE: the quantizer is k tiny rows (it is
    * broadcast in any formulation — materializing it on the driver is the
    * same k-row cost, paid once at plan build), so each corpus vector's
    * best cell comes from a per-row compiled kernel over the LITERAL
    * flattened centroid matrix ([[graft.functions.GraftVecOps
    * .bestCosine]]) plus a literal index→id lookup — a pure projection.
    * The previous `join(broadcast) → groupBy(vec_id) → max_by +
    * first(v/norm)` spelling shuffled the corpus (vectors included) and,
    * because struct/array aggregation buffers are UnsafeRow-immutable,
    * sort-aggregated corpus×k rows on both exchange sides. Matrix rows
    * are ordered by centroid_id (nulls last, who lose max_by ties), so
    * the kernel's first-wins rule reproduces the (c_cos desc, centroid_id
    * asc) tiebreak exactly; cosines are bit-identical (same fold and
    * division order) and the q_ann_ivf oracle still hash-matches.
    *
    * EAGER: building the returned frame `collect()`s the centroid table —
    * Spark jobs run at CONSTRUCTION time (none for a driver-built table,
    * which the collect reads in place), and the quantizer is frozen as
    * of that moment (a centroid table that changes between construction
    * and execution is not re-read, unlike the old fully-lazy broadcast-
    * join plan). Callers building plans ahead of execution should call
    * this at execution time.
    *
    * Input contract: corpus ids are UNIQUE — assignment is a per-row
    * projection with no per-id collapse, so a duplicate id indexes once
    * per row and can appear multiply in one result list. */
  def ivfTopKWith(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      centroidTable: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      nProbes: Int = 4): DataFrame = {
    val base = normedVectors(vectors, idCol, vecCol)
    val (centRows, cellType) = quantizerRows(centroidTable)
    if (centRows.isEmpty)
      return base
        .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
          lit(0.0).as("cosine"), lit(0).as("rank"))
        .filter(lit(false))
    val spark = vectors.sparkSession
    val assigned = kernelAssigned(base, centRows, cellType)
      .select(col("cell"), col("vec_id").as("neighbor_id"), col("vn"), col("nn"))
    // probes: query-set-sized — restrict to the queries FIRST, then the
    // centroid join + rank window run over a tiny frame. The centroid
    // side is rebuilt from the rows just collected (a local k-row frame):
    // re-using the `centroids` plan here would re-run its corpus scan.
    val localCents = DriverTable(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("centroid_id", cellType, nullable = true),
        org.apache.spark.sql.types.StructField("vc",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false), nullable = false),
        org.apache.spark.sql.types.StructField("nc",
          org.apache.spark.sql.types.DoubleType, nullable = false))),
      centRows)
    val scoredProbes = base
      .filter(col("vec_id").isin(queryIds: _*))
      .join(broadcast(localCents))
      .select(col("vec_id"), col("v"), col("norm"), col("centroid_id"),
        (kdot(col("v"), col("vc")) / (col("norm") * col("nc"))).as("c_cos"))
    val wCell = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("centroid_id").asc)
    val probes = scoredProbes
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= nProbes)
      .select(col("centroid_id").as("cell"),
        col("vec_id").as("query_id"), col("v").as("vq"), col("norm").as("nq"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (kdot(col("vq"), col("vn")) / (col("nq") * col("nn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Symmetric int8 quantization of an embedding column — the storage/
    * serving compression step of a vector pipeline (4x smaller than f32,
    * which at corpus scale is the difference between RAM-resident and
    * not). Per-vector scale = 127 / max|x| (zero vectors quantize to
    * zeros); emitted exploded as (vec_id, dim_idx, q, scale) so the
    * result is flat-relational and oracle-comparable. A pure projection +
    * posexplode: no shuffle. */
  def quantizeInt8(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors
      .select(
        col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("v"),
        array_max(transform(asDouble(col(vecCol)), x => abs(x))).as("max_abs"))
      .withColumn("scale",
        when(col("max_abs") === 0.0, lit(0.0)).otherwise(lit(127.0) / col("max_abs")))
      .select(col("vec_id"), col("scale"), posexplode(col("v")).as(Seq("dim_idx", "x")))
      .select(
        col("vec_id"),
        col("dim_idx"),
        round(col("x") * col("scale")).cast("int").as("q"),
        col("scale"))

  /** Exact cosine top-k: for each query vector (ids in `queryIds`), the k
    * nearest corpus vectors (self excluded), ties broken by neighbor id.
    *
    * Exchange shape: the corpus never shuffles — queries broadcast, and
    * the per-query best-k is the mergeable
    * [[graft.functions.TopKByScore]] aggregate, so only k rows per
    * (partition, query) cross the wire instead of the whole scored scan
    * (the window spelling would move corpus × queries rows into
    * per-query partitions before discarding all but k). Row-for-row
    * equal to the window form — same (cosine desc, neighbor_id asc)
    * total order — pinned by spec.
    *
    * Returns (query_id, neighbor_id, cosine, rank). */
  def bruteForceTopK(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int): DataFrame = {
    val corpus = vectors.select(
      col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("vn"),
      sqrt(kdot(asDouble(col(vecCol)), asDouble(col(vecCol)))).as("nn"))
    val queries = vectors
      .filter(col(idCol).isin(queryIds: _*))
      .select(
        col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("vq"),
        sqrt(kdot(asDouble(col(vecCol)), asDouble(col(vecCol)))).as("nq"))
    corpus
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (kdot(col("vq"), col("vn")) / (col("nq") * col("nn"))).as("cosine"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore(col("cosine"), col("neighbor_id"), k)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("query_id"), col("__t.id").as("neighbor_id"),
        col("__t.score").as("cosine"), (col("__r") + 1).cast("int").as("rank"))
  }
}
