package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The argmin/argmax kernels break ties by centroid order, so k-means and
  * the IVF quantizer must hand them centroids in exactly Spark's id
  * ordering: `min(struct(dist, cluster))` (nulls first) for Lloyd, and
  * (cosine desc, centroid_id asc, nulls last) for IVF cells. Each case is
  * checked against an independent Spark-SQL reference on ties where a
  * different ordering picks a different winner: U+E000 sorts before
  * U+1D11E in UTF-8 (Spark's string order) but after it in UTF-16 (Java's
  * `compareTo`), a NULL id, and a decimal id column. Also pins the job
  * cost of keeping centroids on the driver. */
class CentroidOrderSpec extends SparkSpec {
  import spark.implicits._

  private val E = "\uE000" // UTF-8 EE 80 80: before G in Spark's order
  private val G = "\uD834\uDD1E" // U+1D11E, UTF-8 F0 9D 84 9E

  /** Lloyd tie geometry. `T` is equidistant (1) from E and G, `M` from
    * "a" and the NULL-id row. Both sort after every other id, so
    * first-k seeding picks the other four; farthest-first picks them in
    * the order a, G, E, NULL. */
  private val points = Seq(
    "a" -> Array(0.5f, 10f), G -> Array(-1f, 0f), E -> Array(1f, 0f),
    "T" -> Array(0f, 0f), (null: String) -> Array(0.5f, 12f), "M" -> Array(0.5f, 11f))

  /** The same rows under string ids (T and M become U+1F600/U+1F601,
    * after G in UTF-8) or decimal ids, with the names used in assertions. */
  private def idColumns: Seq[(String, DataFrame, Map[String, Any])] = {
    val str = Map("a" -> "a", G -> G, E -> E, "T" -> "\uD83D\uDE00",
      "M" -> "\uD83D\uDE01", (null: String) -> null)
    val dec = Map("a" -> "1.00", G -> "3.00", E -> "2.50", "T" -> "5.00",
      "M" -> "6.00", (null: String) -> null)
    Seq("string" -> str, "decimal" -> dec).map { case (name, ids) =>
      val df = points.map { case (p, v) => (ids(p), v) }.toDF("vec_id", "embedding")
      val typed = if (name == "decimal") df.withColumn("vec_id", col("vec_id").cast("decimal(10,2)")) else df
      val typedIds = typed.select("vec_id").collect().map(_.get(0))
      (name, typed, points.map(_._1).zip(typedIds).toMap)
    }
  }

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Reference assignment: every vector against every centroid, then
    * `min(struct(dist, cluster))` per vector. (vec_id, v, cluster, dist) */
  private def refAssign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(cents)
      .select(col("vec_id"), col("v"), col("cluster"),
        aggregate(zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cluster"))).as("m"), first("v").as("v"))
      .select(col("vec_id"), col("v"), col("m.cluster").as("cluster"), col("m.dist").as("dist"))

  /** Reference micros-mean update: (cluster, c). */
  private def refUpdate(assigned: DataFrame): Map[Any, Seq[Double]] =
    assigned.select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg((sum(round(col("x") * 1e6).cast("long")).cast("double") /
        (count(lit(1)) * 1000000L)).as("cx"))
      .groupBy("cluster")
      .agg(sort_array(collect_list(struct(col("dim"), col("cx")))).as("cs"))
      .collect().map(r => r.get(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1)))
      .toMap

  private def centroidFrame(like: DataFrame, cents: Map[Any, Seq[Double]]): DataFrame =
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        cents.toSeq.map { case (id, c) => org.apache.spark.sql.Row(id, c) }).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        like.schema("vec_id").copy(name = "cluster", nullable = true),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))))

  /** Reference Lloyd-to-convergence: empty clusters keep their centroid,
    * stop once total squared movement is at most `eps`. */
  private def refConverged(vecs: DataFrame, seeds: Map[Any, Seq[Double]],
      eps: Double, maxIters: Int): DataFrame = {
    var cents = seeds
    var moved = Double.MaxValue
    var i = 0
    while (moved > eps && i < maxIters) {
      val upd = refUpdate(refAssign(vecs, centroidFrame(vecs, cents)))
      moved = cents.map { case (id, c) =>
        upd.get(id).fold(0.0)(n => c.lazyZip(n).map((a, b) => (a - b) * (a - b)).sum)
      }.sum
      cents = cents.map { case (id, c) => id -> upd.getOrElse(id, c) }
      i += 1
    }
    refAssign(vecs, centroidFrame(vecs, cents))
  }

  private def assignments(df: DataFrame): Set[(Any, Any, Long)] =
    df.select(col("vec_id"), col("cluster"), round(col("dist") * 1e6).cast("long"))
      .collect().map(r => (r.get(0), r.get(1), r.getLong(2))).toSet

  private def prepared(df: DataFrame): DataFrame =
    df.select(col("vec_id"), asDouble(col("embedding")).as("v"))

  test("kmeans(iters = 1) breaks distance ties in Spark's id order, NULL first") {
    for ((name, df, id) <- idColumns) {
      val got = Clustering.kmeans(df, "vec_id", "embedding", k = 4, iters = 1)
        .select(col("vec_id"), col("cluster"), col("dist_micros"))
        .collect().map(r => (r.get(0), r.get(1), r.getLong(2))).toSet
      val seeds = prepared(df).orderBy("vec_id").limit(4)
        .select(col("vec_id").as("cluster"), col("v").as("c"))
      assert(got == assignments(refAssign(prepared(df), seeds)), name)
      val cluster = got.map(t => t._1 -> t._2).toMap
      assert(cluster(id("T")) == id(E), s"$name: T ties E and G")
      assert(cluster(id("M")) == null, s"$name: M ties a and NULL")
    }
  }

  test("kmeansConverged sorts farthest-first seeds into Spark's id order") {
    for ((name, df, id) <- idColumns) {
      val got = Clustering.kmeansConverged(df, "vec_id", "embedding", k = 4, maxIters = 10)
        .select(col("vec_id"), col("cluster"), col("dist_micros"))
        .collect().map(r => (r.get(0), r.get(1), r.getLong(2))).toSet
      val seeds = Clustering.farthestFirstSeeds(df, "vec_id", "embedding", k = 4)
        .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
      // selection order a, G, E, NULL: taken as-is it would hand T to G
      assert(seeds.keySet == Set(id("a"), id(G), id(E), null), name)
      assert(got == assignments(refConverged(prepared(df), seeds, 1e-9, 10)), name)
      val cluster = got.map(t => t._1 -> t._2).toMap
      assert(cluster(id("T")) == id(E), s"$name: T ties E and G in round 1")
      assert(cluster(id("M")) == null, s"$name: M ties a and NULL in round 1")
    }
  }

  /** IVF tie geometry over long corpus ids: cell E = x, G = y, NULL = z.
    * Vector 2 ties E and NULL, 3 ties E and G, 4 ties G and NULL. */
  private val corpus = Seq(
    1L -> Seq(1f, 0.1f, 0.1f), 2L -> Seq(1f, 0f, 1f), 3L -> Seq(1f, 1f, 0f),
    4L -> Seq(0f, 1f, 1f), 5L -> Seq(0f, 0.2f, 1f), 6L -> Seq(1f, 0.05f, 0f))
    .toDF("vec_id", "embedding")

  /** The quantizer in both id types, rows listed in reverse of the
    * tiebreak order (NULL, G, E), so taking them as given fails. */
  private def quantizers: Seq[(String, DataFrame, Map[String, Any])] =
    Seq("string" -> Seq(null, G, E), "decimal" -> Seq(null, "3.00", "2.50")).map {
      case (name, ids) =>
        val df = ids.zip(Seq(Seq(0.0, 0.0, 1.0), Seq(0.0, 1.0, 0.0), Seq(1.0, 0.0, 0.0)))
          .toDF("centroid_id", "vc")
        val typed =
          if (name == "decimal") df.withColumn("centroid_id", col("centroid_id").cast("decimal(10,2)"))
          else df
        (name, typed, Seq(null, G, E).zip(typed.select("centroid_id").collect().map(_.get(0))).toMap)
    }

  test("IVF cells break cosine ties by centroid_id ascending, NULL ids last") {
    for ((name, quantizer, id) <- quantizers) {
      val dot = aggregate(zip_with(col("v"), col("vc"), (a, b) => a * b), lit(0.0), (s, x) => s + x)
      val norm = (c: Column) => sqrt(aggregate(transform(c, x => x * x), lit(0.0), (s, x) => s + x))
      val ref = prepared(corpus).crossJoin(quantizer)
        .withColumn("cos", dot / (norm(col("v")) * norm(col("vc"))))
        .withColumn("r", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("cos").desc, col("centroid_id").asc_nulls_last)))
        .filter(col("r") === 1)
        .select(col("centroid_id"), col("vec_id")).collect().map(r => (r.get(0), r.getLong(1))).toSet
      val cells = Similarity.ivfAssign(corpus, "vec_id", "embedding", quantizer)
        .select("cell", "vec_id").collect().map(r => (r.get(0), r.getLong(1))).toSet
      assert(cells == ref, name)
      assert(cells.contains((id(E), 2L)) && cells.contains((id(E), 3L)) &&
        cells.contains((id(G), 4L)), name)
      // query 1 probes only its own cell E, so the search finds exactly
      // the vectors the tiebreak put there
      val eCell = ref.collect { case (c, v) if c == id(E) && v != 1L => v }
      val found = Similarity.ivfTopKWith(corpus, "vec_id", "embedding", quantizer,
        queryIds = Seq(1L), k = 10, nProbes = 1)
        .select("neighbor_id").as[Long].collect().toSet
      assert(found == eCell && found == Set(2L, 3L, 6L), name)
    }
  }

  test("building the IVF search over a driver-built quantizer runs no Spark job") {
    val (vecs, cents) = Clustering.kmeansConvergedModel(corpus, "vec_id", "embedding",
      k = 3, maxIters = 5, farthestFirst = false)
    val quantizer = cents.select(col("cluster").as("centroid_id"), col("c").as("vc"))
    var search: DataFrame = null
    val jobs = jobsOf {
      search = Similarity.ivfTopKWith(vecs, "vec_id", "v", quantizer,
        queryIds = Seq(1L), k = 3, nProbes = 1)
    }
    assert(jobs == 0, s"ivfTopKWith construction ran $jobs job(s)")
    assert(search.count() > 0)
  }

  test("kmeansConverged runs no job after its last round's update collect") {
    val df = idColumns.head._2
    val model = jobsOf(Clustering.kmeansConvergedModel(df, "vec_id", "embedding", k = 4))
    val converged = jobsOf(Clustering.kmeansConverged(df, "vec_id", "embedding", k = 4))
    // the same training either way; the assignment itself is lazy
    assert(model > 0 && converged == model,
      s"kmeansConverged ran $converged jobs, its model $model")
  }
}
