package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K-means clustering over an `array<float>` embedding column — Lloyd's
  * algorithm, the topic/deduplication clustering step of an embedding
  * pipeline (and the real centroid trainer behind [[Similarity.ivfTopK]],
  * which documents its deterministic seed pick as a k-means drop-in).
  *
  * Scale shape per iteration:
  *  - assignment: centroids are k rows — a literal matrix over the
  *    unshuffled corpus scan, argmin by squared euclidean distance
  *    (sequential-fold arithmetic, same discipline as [[Similarity]]);
  *  - update: vectors `posexplode` to (cluster, dim, component) and hash-
  *    aggregate — map-side partial agg collapses each partition to at most
  *    k*dim rows before anything ships, so the shuffle is O(k*dim), not
  *    O(corpus).
  *
  * Determinism (the property that lets the driver's DuckDB gate check an
  * *iterative* algorithm): seeds are the first k vectors by id — the same
  * deterministic choice [[Similarity.ivfTopK]] makes — and each updated
  * centroid component is `sum(round(x*1e6)) / (n*1e6)`: the numerator is
  * an integer sum (order-independent where double summation is not), so
  * every iteration — and therefore every assignment — is bit-identical on
  * both engines at any parallelism. Ties in the argmin break by cluster id.
  *
  * One driver-side Lloyd loop serves every entry point, with the
  * centroids held on the driver between rounds (one Spark job per round).
  * Fixed `iters` ([[kmeans]]) keeps the oracle expressible as an unrolled
  * CTE chain — production callers use [[kmeansConverged]] (movement-eps
  * loop) seeded by the deterministic farthest-first rule
  * ([[farthestFirstSeeds]]).
  */
object Clustering {

  /** Compiled kernel (higher-order `aggregate`/`zip_with` are
    * CodegenFallback — interpreted per row — and this runs corpus × k
    * times per Lloyd round); same fold order → same bits as the HOF
    * formulation, pinned in `VecFunctionsSpec`. */
  private def sqDist(v: Column, c: Column): Column =
    graft.functions.HashFunctions.sqDist(v, c)

  /** Driver-resident centroids (cluster id, components) in the
    * assignment kernel's tiebreak order: id ascending, nulls first. */
  private type Centroids = IndexedSeq[(Any, Seq[Double])]

  /** Nearest centroid per vector: (vec_id, v, __ci, dist), `__ci` the
    * index of the winner in `cents`.
    *
    * ZERO-SHUFFLE: the argmin is a per-row compiled kernel over a LITERAL
    * flattened centroid matrix ([[graft.functions.GraftVecOps
    * .nearestSqDist]]) — a pure projection of the corpus. The previous
    * `crossJoin(broadcast) → groupBy(vec_id) → min(struct) + first(v)`
    * spelling shuffled the whole corpus (with its vectors) every Lloyd
    * round AND sort-aggregated it (struct/array aggregation buffers are
    * UnsafeRow-immutable, so HashAggregateExec refuses and both exchange
    * sides sort corpus×k rows). Because `cents` is in tiebreak order, the
    * kernel's first-wins rule reproduces `min(struct(dist, cluster))`'s
    * (dist asc, cluster asc) tiebreak exactly; distances are bit-identical
    * (same fold order) and the oracle CTE chain still hash-matches. */
  private def nearest(vecs: DataFrame, cents: Centroids): DataFrame =
    vecs
      .select(col("vec_id"), col("v"),
        graft.functions.HashFunctions.nearestSqDist(col("v"),
          typedLit(graft.functions.GraftVecOps.flatMatrix(cents.map(_._2))),
          cents.head._2.length).as("__nd"))
      .select(col("vec_id"), col("v"),
        col("__nd").getItem(0).cast("int").as("__ci"),
        col("__nd").getItem(1).as("dist"))

  /** One Lloyd assignment: (vec_id, v, cluster, dist) — [[nearest]] plus
    * a positional lookup of the matrix index in a literal array of the
    * cluster ids ([[centroidIds]]).
    *
    * Input contract (shared by every public entry point in this file):
    *  - `vec_id` is UNIQUE. The assignment is a per-row projection, so a
    *    duplicate id yields one output row PER input row (each weighted
    *    separately in the centroid update) — there is no per-id collapse.
    *  - A NULL vector is kept with a NULL cluster and NULL dist (the
    *    kernel null-propagates, and `element_at` of a NULL index is
    *    NULL) — it never reaches the centroid update (`posexplode` of
    *    NULL emits nothing) and never silently disappears from the
    *    output. Callers wanting Similarity's norm>0 discipline filter
    *    before calling.
    *  - A vector whose length differs from the centroid dimension is an
    *    ERROR (the kernel raises), not a silent drop. */
  private def assign(vecs: DataFrame, cents: Centroids): DataFrame = {
    val idType = vecs.schema("vec_id").dataType
    if (cents.isEmpty)
      return vecs
        .select(col("vec_id"), col("v"),
          lit(null).cast(idType).as("cluster"), lit(0.0).as("dist"))
        .filter(lit(false))
    nearest(vecs, cents)
      .select(col("vec_id"), col("v"),
        element_at(centroidIds(cents.map(_._1), idType), col("__ci") + 1).as("cluster"),
        col("dist"))
  }

  /** The centroid ids as one array literal of the id's own type, indexed
    * by the kernels' matrix index (`element_at(ids, index + 1)`): the
    * index→id map is a projection, with no join and no broadcast job. */
  private[llm] def centroidIds(
      ids: Seq[Any],
      idType: org.apache.spark.sql.types.DataType): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(ids,
        org.apache.spark.sql.types.ArrayType(idType, containsNull = true)))

  /** `rows` sorted on the driver by their id in Spark's own ordering for
    * `idType` (Catalyst's `InterpretedOrdering` on the id's `SortOrder`),
    * so the order is exactly what an `orderBy` inside Spark would give
    * for every id type — UTF-8 byte order for strings, decimals, NULLs
    * where `nulls` puts them — without running a job to sort a few rows. */
  private[llm] def inIdOrder[A](
      rows: Seq[A],
      idType: org.apache.spark.sql.types.DataType,
      nulls: org.apache.spark.sql.catalyst.expressions.NullOrdering)(
      id: A => Any): Seq[A] = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions._
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ordering = new InterpretedOrdering(Seq(SortOrder(
      BoundReference(0, idType, nullable = true), Ascending, nulls, Seq.empty)))
    rows.sortBy(r => InternalRow(toCatalyst(id(r))))(ordering)
  }

  /** Micros-mean centroid update over [[nearest]]'s output: (__ci, c)
    * with c(d) = sum(round(v(d)*1e6)) / (n*1e6) per dimension. */
  private def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("__ci"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("__ci", "dim")
      .agg(
        sum(round(col("x") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("__ci"), col("dim"),
        (col("s").cast("double") / (col("n") * 1000000L)).as("cx"))
      .groupBy("__ci")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("cx")))),
        e => e.getField("cx")).as("c"))

  /** The Lloyd loop. Centroids are k tiny rows, so they live on the
    * DRIVER (the Spark-ML iterative discipline): each round is exactly ONE
    * distributed job — collect the updated centroids from the
    * assign→update pipeline — and the rest is local arithmetic. The
    * centroids stay in tiebreak order by construction: `seeds` arrive in
    * it, and each round's result is the previous list with every entry
    * replaced by its update, matched by matrix index.
    *
    * Stop rule: at most `rounds` updates, and with `eps` also as soon as
    * the total squared centroid movement drops to `eps`. Empty-cluster
    * policy: a cluster that loses all its members keeps its centroid
    * (`keepEmpty`; Lloyd's must not silently drop below k) or drops out
    * of the set. */
  private def lloyd(
      vecs: DataFrame,
      seeds: Centroids,
      rounds: Int,
      eps: Option[Double],
      keepEmpty: Boolean): Centroids = {
    var cents = seeds
    var moved = Double.MaxValue
    var i = 0
    while (cents.nonEmpty && i < rounds && eps.forall(moved > _)) {
      val updated = update(nearest(vecs, cents)).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      moved = cents.indices.map { ci =>
        updated.get(ci).fold(0.0)(cents(ci)._2.lazyZip(_).map((a, b) => (a - b) * (a - b)).sum)
      }.sum
      cents = cents.indices.flatMap { ci =>
        val (id, cOld) = cents(ci)
        updated.get(ci).orElse(Option.when(keepEmpty)(cOld)).map(id -> _)
      }
      i += 1
    }
    cents
  }

  /** The prepared (vec_id, v: array&lt;double&gt;) corpus. */
  private def prepare(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))

  /** Seed centroids: the k smallest ids AMONG NON-NULL VECTORS
    * (deterministic, engine-portable, and robust to sparse/offset id
    * spaces where `vec_id < k` would silently yield fewer than k seeds).
    * The not-null filter honors the NULL-vector contract of [[assign]]:
    * a NULL vector can be ASSIGNED (to a NULL cluster) but never SEED — a
    * NULL centroid would crash the assignment kernel. orderBy+limit
    * compiles to TakeOrderedAndProject — per-partition top-k, no global
    * sort — and its rows come back already in tiebreak order (ascending
    * is nulls first). */
  private def firstKSeeds(vecs: DataFrame, k: Int): Centroids =
    vecs.filter(col("v").isNotNull).orderBy(col("vec_id")).limit(k).collect()
      .map(r => (r.get(0), r.getSeq[Double](1))).toIndexedSeq

  /** Lloyd's k-means: `iters` rounds from the first-k-by-id seeds.
    * Returns (vec_id, cluster, dist_micros) of the final assignment.
    *
    * EAGER: like every iterative trainer here, constructing the returned
    * frame RUNS the training jobs (the seed collect plus one centroid
    * collect per round) — the result is a plan over frozen centroids,
    * not a lazy recipe that retrains on each action.
    *
    * @param vectors (idCol, vecCol: array<float>) input
    * @param k       cluster count; seeds = the k smallest ids
    * @param iters   fixed iteration count (production: until movement < eps)
    */
  def kmeans(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2): DataFrame =
    kmeansAssigned(vectors, idCol, vecCol, k, iters)
      .select(col("vec_id"), col("cluster"),
        round(col("dist") * 1e6).cast("long").as("dist_micros"))

  /** [[kmeans]] keeping the prepared double vector alongside each
    * assignment — (vec_id, v, cluster, dist): the input shape for
    * operators that consume both the cell structure and the vectors
    * (e.g. [[Dedup.semantic]]'s within-cell cosine pruning), saving
    * those callers a corpus self-join to recover `v`. A cluster that
    * empties DROPS from the next round's set (unlike [[kmeansConverged]],
    * which retains it) — the fixed-iters contract the oracle's unrolled
    * CTE chain mirrors. */
  def kmeansAssigned(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2): DataFrame = {
    require(k > 0 && iters > 0, "need k > 0 and iters > 0")
    val vecs = prepare(vectors, idCol, vecCol)
    assign(vecs, lloyd(vecs, firstKSeeds(vecs, k), iters - 1, eps = None, keepEmpty = false))
  }

  /** Deterministic farthest-first (Gonzalez) seeding — the derandomized
    * k-means++ analog: seed 1 is the smallest id; each subsequent seed is
    * the vector FARTHEST from its nearest already-chosen seed (ties break
    * to the smallest id). Spreads seeds like k-means++ does in
    * expectation, with none of the sequential sampling randomness — so
    * the driver's DuckDB gate can check it as an unrolled CTE chain.
    *
    * Scale shape: k-1 driver rounds over a RUNNING per-vector min-distance
    * state — each round scores the remaining vectors against only the
    * NEWEST seed (`least(dmin, dist_to_new_seed)`), never the whole seed
    * set, so total work is genuinely O(k·n·dim) (rescoring against all
    * chosen seeds each round would be O(k²·n·dim)). The argmax is
    * `orderBy(…).limit(1)` — TakeOrderedAndProject, a per-partition top-1
    * merged on the driver: no shuffle, no window, no all-pairs, and (being
    * ordering-based, not `max_by(-id)`) it works for STRING ids and keeps
    * NULL-id rows in play (null-safe `<=>` exclusion, NULLs ordered after
    * every real id). Seeds themselves are k tiny rows, so they live on the
    * DRIVER (the Spark-ML centroid discipline): each round is exactly one
    * k-row-collect job over the checkpointed state plus one state
    * re-checkpoint — no per-round union/seed-materialization jobs. `min`
    * over doubles is order-independent, so the running-dmin values are
    * bit-identical to a rescore-everything formulation and the DuckDB
    * oracle chain still hash-matches.
    *
    * Returns (cluster = seed vec_id, c = seed vector, dmin_micros =
    * round(1e6 × squared distance to the nearest earlier seed); 0 for the
    * first seed). If the input has fewer than k rows, all of them seed.
    */
  def farthestFirstSeeds(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val vecs = prepare(vectors, idCol, vecCol)
    val rows = farthestFirstSeedsDriver(vecs, k)
      .map { case (id, c, dm) => org.apache.spark.sql.Row(id, c, dm) }
    DriverTable(vectors.sparkSession, org.apache.spark.sql.types.StructType(Seq(
      // nullable: a NULL-id corpus row may legitimately become a seed
      org.apache.spark.sql.types.StructField(
        "cluster", vecs.schema("vec_id").dataType, nullable = true),
      field("c", doubleArray),
      field("dmin_micros", org.apache.spark.sql.types.LongType))), rows)
  }

  private def field(name: String, t: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.types.StructField(name, t, nullable = false)
  private def doubleArray = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.DoubleType, containsNull = false)

  /** Driver-side core of [[farthestFirstSeeds]]: takes the PREPARED
    * (vec_id, v: array&lt;double&gt;) corpus so callers that already
    * checkpointed it don't pay a second source scan; returns
    * (seed id, components, dmin_micros) in selection order. */
  private def farthestFirstSeedsDriver(
      vecs: DataFrame,
      k: Int): Seq[(Any, Seq[Double], Long)] = {
    require(k > 0, "need k > 0")
    // NULL-id rows participate in seeding (as the left_anti formulation
    // did): exclusion is null-safe (<=>), and tiebreak ordering puts a
    // NULL id after every real id. At most one NULL seed can be chosen —
    // <=> removes all NULL rows once one wins — which is the only coherent
    // reading of "distinct seeds" over an id column that cannot
    // distinguish its NULLs.
    // the first seed must have a vector (a NULL seed centroid would crash
    // the assignment kernel); later rounds exclude NULL-v rows naturally
    // (their dmin is NULL, ordered after every real distance)
    val first = vecs.filter(col("v").isNotNull)
      .orderBy(col("vec_id").asc_nulls_last).limit(1).collect()
    if (first.isEmpty) return Nil
    val seeds = scala.collection.mutable.ArrayBuffer[(Any, Seq[Double], Long)](
      (first.head.get(0), first.head.getSeq[Double](1), 0L))
    // state: every not-yet-chosen vector with its min squared distance to
    // the seeds chosen so far; checkpointed per round so round r re-scores
    // only against the newest seed instead of replaying r stacked
    // projections from the scan (the top-1 collect then reads the
    // checkpointed blocks — a cheap second job, not a second corpus pass).
    var state = vecs
      .filter(!(col("vec_id") <=> lit(seeds.head._1)))
      .select(col("vec_id"), col("v"),
        sqDist(col("v"), typedLit(seeds.head._2)).as("dmin"))
      .localCheckpoint()
    var i = 1
    var exhausted = false
    while (i < k && !exhausted) {
      // Farthest first, smallest id on a distance tie. orderBy+limit(1)
      // plans as TakeOrderedAndProject (per-partition top-1, driver merge
      // of `partitions` singletons — no shuffle) and, unlike the previous
      // max_by(-id) tiebreak, never negates the id, so string doc_id
      // corpora order lexicographically instead of failing analysis.
      val rows = state
        .filter(col("dmin").isNotNull) // NULL-v rows never seed
        .orderBy(col("dmin").desc, col("vec_id").asc_nulls_last)
        .limit(1)
        .collect()
      if (rows.isEmpty) exhausted = true // input exhausted before k seeds
      else {
        val next = rows.head
        val (id, c, dmin) = (next.get(0), next.getSeq[Double](1), next.getDouble(2))
        seeds += ((id, c, math.round(dmin * 1e6)))
        if (i < k - 1) // last round: the state would go unread
          state = state
            .filter(!(col("vec_id") <=> lit(id)))
            .select(col("vec_id"), col("v"),
              least(col("dmin"), sqDist(col("v"), typedLit(c))).as("dmin"))
            .localCheckpoint()
      }
      i += 1
    }
    seeds.toSeq
  }

  /** Lloyd's k-means iterated to convergence: rounds run until the total
    * squared centroid movement drops to `eps` or `maxIters` is hit — the
    * production loop the fixed-`iters` [[kmeans]] trades away for oracle
    * expressibility. Seeds come from [[farthestFirstSeeds]] (default) or
    * the first k ids. A cluster that loses all members keeps its previous
    * centroid (Lloyd's must not silently drop below k). Each round is one
    * Spark job and the corpus is never collected.
    *
    * Returns (vec_id, cluster, dist_micros) of the final assignment. */
  def kmeansConverged(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      eps: Double = 1e-9,
      maxIters: Int = 20,
      farthestFirst: Boolean = true): DataFrame = {
    val (vecs, cents) = converged(vectors, idCol, vecCol, k, eps, maxIters, farthestFirst)
    assign(vecs, cents)
      .select(col("vec_id"), col("cluster"),
        round(col("dist") * 1e6).cast("long").as("dist_micros"))
  }

  /** The trained model: (prepared corpus, converged (cluster, c:
    * array&lt;double&gt;) centroid table) — e.g. the coarse quantizer for
    * [[Similarity.ivfTopKWith]] (rename `cluster`→`centroid_id`,
    * `c`→`vc`). The corpus comes back as the loop's `localCheckpoint`ed
    * (vec_id, v: array&lt;double&gt;) — downstream consumers (e.g.
    * [[Similarity.ivfTopKWith]] search over the same vectors) should read
    * THIS instead of re-scanning the source, so the materialization the
    * training paid for is reused rather than duplicated. The centroid
    * table is driver-built: reading it runs no job. */
  def kmeansConvergedModel(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      eps: Double = 1e-9,
      maxIters: Int = 20,
      farthestFirst: Boolean = true): (DataFrame, DataFrame) = {
    val (vecs, cents) = converged(vectors, idCol, vecCol, k, eps, maxIters, farthestFirst)
    (vecs, DriverTable(vecs.sparkSession,
      org.apache.spark.sql.types.StructType(Seq(
        // nullable: a NULL-id corpus row may legitimately seed a cluster
        org.apache.spark.sql.types.StructField(
          "cluster", vecs.schema("vec_id").dataType, nullable = true),
        field("c", doubleArray))),
      cents.map { case (id, c) => org.apache.spark.sql.Row(id, c) }))
  }

  /** [[lloyd]] to convergence: the checkpointed prepared corpus and the
    * final centroids in tiebreak order. */
  private def converged(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      eps: Double,
      maxIters: Int,
      farthestFirst: Boolean): (DataFrame, Centroids) = {
    require(k > 0 && maxIters > 0 && eps >= 0, "need k > 0, maxIters > 0, eps >= 0")
    // materialize the prepared corpus ONCE: every Lloyd round re-reads it,
    // and re-scanning the source + float→double conversion per round would
    // multiply the scan cost by the iteration count (the same input-caching
    // discipline Spark ML's iterative trainers follow)
    val vecs = prepare(vectors, idCol, vecCol).localCheckpoint()
    // farthest-first seeds arrive in selection order: the one place the
    // loop's centroids need sorting into tiebreak order
    val seeds =
      if (farthestFirst)
        inIdOrder(farthestFirstSeedsDriver(vecs, k).map(s => (s._1, s._2)),
          vecs.schema("vec_id").dataType,
          org.apache.spark.sql.catalyst.expressions.NullsFirst)(_._1).toIndexedSeq
      else firstKSeeds(vecs, k)
    (vecs, lloyd(vecs, seeds, maxIters, Some(eps), keepEmpty = true))
  }
}
