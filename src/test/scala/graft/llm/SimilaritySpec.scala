package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by exact cosine, excludes self, breaks ties by id") {
    val d = vecs(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(1f, 0.01f, 0f), // nearest to 0
      2L -> Seq(0.5f, 0.5f, 0f), // second
      3L -> Seq(0f, 1f, 0f)) // last
    val got = Similarity.bruteForceTopK(d, "vec_id", "embedding", Seq(0L), k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("cosine of identical vectors is 1.0 exactly for unit-ish inputs") {
    val d = vecs(0L -> Seq(3f, 4f), 1L -> Seq(3f, 4f))
    val c = Similarity.bruteForceTopK(d, "vec_id", "embedding", Seq(0L), k = 1)
      .select("cosine").as[Double].head()
    assert(math.abs(c - 1.0) < 1e-15)
  }

  test("nearDupPairs finds co-bucketed high-cosine pairs") {
    // two near-identical vectors + one orthogonal: identical directions land
    // in the same hyperplane bucket by construction
    val d = vecs(
      0L -> Seq(1f, 2f, 3f, 4f),
      1L -> Seq(1.01f, 2.01f, 3.01f, 4.01f),
      2L -> Seq(-4f, 3f, -2f, 1f))
    val got = Similarity.nearDupPairs(d, "vec_id", "embedding", dim = 4, nPlanes = 6, minCosine = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L)))
  }

  test("ivfTopKWith on trained centroids recovers the tight cluster's neighbors") {
    // two well-separated clusters; a 2-cell trained quantizer must route
    // query 0's probe to its own cluster and return its true neighbors
    val d = vecs(
      0L -> Seq(1f, 0f, 0.05f), 1L -> Seq(1f, 0.02f, 0f), 2L -> Seq(0.98f, 0f, 0f),
      10L -> Seq(0f, 1f, 0.05f), 11L -> Seq(0f, 0.97f, 0f), 12L -> Seq(0.02f, 1f, 0f))
    val quantizer = Clustering
      .kmeansConvergedModel(d, "vec_id", "embedding", k = 2, maxIters = 5)._2
      .select(col("cluster").as("centroid_id"), col("c").as("vc"))
    val got = Similarity.ivfTopKWith(d, "vec_id", "embedding", quantizer,
      queryIds = Seq(0L), k = 2, nProbes = 1)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got.toSet == Set(1L, 2L)) // never the orthogonal cluster
    // identical to the deterministic-pick dataflow when fed the same table
    val manual = Similarity.ivfTopKWith(d, "vec_id", "embedding",
      vecs(0L -> Seq(1f, 0f, 0.05f), 10L -> Seq(0f, 1f, 0.05f))
        .select(col("vec_id").as("centroid_id"),
          org.apache.spark.sql.functions.transform(col("embedding"),
            x => x.cast("double")).as("vc")),
      queryIds = Seq(0L), k = 2, nProbes = 1)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(manual.toSet == Set(1L, 2L))
  }

  test("a zero corpus vector is excluded from the IVF index, never rank 1") {
    // 0/0 cosine = NaN ranks above every real cosine in the top-k window —
    // an all-zero embedding would otherwise head every result list
    val d = vecs(
      0L -> Seq(1f, 0f), 1L -> Seq(0.9f, 0.1f), 2L -> Seq(0.8f, 0.2f),
      9L -> Seq(0f, 0f))
    val quantizer = Seq((0L, Seq(1.0, 0.0))).toDF("centroid_id", "vc")
    val got = Similarity.ivfTopKWith(d, "vec_id", "embedding", quantizer,
      queryIds = Seq(0L), k = 3, nProbes = 1)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L)) // the zero vector never appears
  }

  test("a zero trained centroid is dropped, not a NaN black hole") {
    // cosine vs an all-zero centroid is 0/0 = NaN, and NaN ranks above
    // every real cosine — without the guard one degenerate cell would
    // swallow the whole corpus assignment
    val d = vecs(0L -> Seq(1f, 0f), 1L -> Seq(0.9f, 0.1f), 2L -> Seq(0f, 1f))
    val quantizer = Seq(
      (100L, Seq(0.0, 0.0)), (0L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "vc")
    val got = Similarity.ivfTopKWith(d, "vec_id", "embedding", quantizer,
      queryIds = Seq(0L), k = 2, nProbes = 1)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(1L)) // its true cell-mate; cell 100 never exists
  }

  test("hyperplaneBuckets is deterministic across invocations") {
    val d = vecs(0L -> Seq(1f, -2f, 3f, -4f), 1L -> Seq(5f, 6f, -7f, 8f))
    val a = Similarity.hyperplaneBuckets(d, "vec_id", "embedding", 4, 6)
      .as[(Long, Long)].collect().toMap
    val b = Similarity.hyperplaneBuckets(d, "vec_id", "embedding", 4, 6)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a.values.forall(bk => bk >= 0 && bk < 64))
  }

  test("ivfAssign matches the naive best-cosine argmax on random vectors") {
    val rnd = new scala.util.Random(99)
    val dim = 8
    val corpus = (10L until 40L).map(i => i -> Seq.fill(dim)(rnd.nextFloat() - 0.5f))
    val cents = (0L until 4L).map(i => i -> Seq.fill(dim)(rnd.nextFloat() - 0.5f))
    val got = Similarity.ivfAssign(
      vecs(corpus: _*), "vec_id", "embedding",
      vecs(cents: _*).select(col("vec_id").as("centroid_id"), col("embedding").as("vc")))
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      d / (math.sqrt(ad.foldLeft(0.0)((s, x) => s + x * x)) *
        math.sqrt(bd.foldLeft(0.0)((s, x) => s + x * x)))
    }
    for ((id, v) <- corpus) {
      val want = cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.head._1
      assert(got(id) == want, s"vector $id assigned to ${got(id)}, naive argmax $want")
    }
  }

  test("ivfAssign appends: batch-by-batch union equals the one-shot assignment") {
    val rnd = new scala.util.Random(7)
    val dim = 6
    val all = (10L until 50L).map(i => i -> Seq.fill(dim)(rnd.nextFloat() - 0.5f))
    val quant = vecs((0L until 3L).map(i => i -> Seq.fill(dim)(rnd.nextFloat() - 0.5f)): _*)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("vc"))
    val oneShot = Similarity.ivfAssign(vecs(all: _*), "vec_id", "embedding", quant)
      .select("cell", "vec_id").as[(Long, Long)].collect().toSet
    val (a, b) = all.partition(_._1 < 30)
    val byBatch = Similarity.ivfAssign(vecs(a: _*), "vec_id", "embedding", quant)
      .select("cell", "vec_id").as[(Long, Long)].collect().toSet ++
      Similarity.ivfAssign(vecs(b: _*), "vec_id", "embedding", quant)
        .select("cell", "vec_id").as[(Long, Long)].collect().toSet
    assert(byBatch == oneShot)
  }

  test("bruteForceTopK agg form == window form, partition-invariant, no Window node") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val n = 120
    val dim = 6
    val df = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        i => (pmod(abs(xxhash64(col("id"), i)), lit(997L)) / 250.0 - 2.0)
          .cast("float")).as("embedding"))
    val qids = Seq(0L, 7L, 33L)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val agg = Similarity.bruteForceTopK(df, "vec_id", "embedding", qids, k = 10)
    // reference: the window spelling over the identical scored join
    val corpus = df.select(col("vec_id").as("neighbor_id"),
      Similarity.asDouble(col("embedding")).as("vn"))
    val queries = df.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"),
        Similarity.asDouble(col("embedding")).as("vq"))
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val win = corpus.join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("vq"), col("vn"))
          / (sqrt(dot(col("vq"), col("vq"))) * sqrt(dot(col("vn"), col("vn")))))
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
    assert(canon(agg) == canon(win))
    assert(canon(Similarity.bruteForceTopK(df.repartition(11), "vec_id", "embedding",
      qids, k = 10)) == canon(agg))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in brute-force plan:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected object agg:\n$plan")
  }

  test("ivfAssign with an all-zero-norm quantizer is empty") {
    val corpus = vecs(1L -> Seq(1f, 2f), 2L -> Seq(3f, 4f))
    val zeroQuant = vecs(0L -> Seq(0f, 0f))
      .select(col("vec_id").as("centroid_id"), col("embedding").as("vc"))
    assert(Similarity.ivfAssign(corpus, "vec_id", "embedding", zeroQuant).count() == 0)
  }
}
