package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Pq, Similarity}

/** Compact ANN-recall regression gate, surfaced into the per-round BENCH
  * artifact: a quantizer/probe-rule/re-rank regression fails the round
  * mechanically, because `recall_floor_ok` rides the bench JSON the
  * driver parses every round.
  *
  * Synthetic corpus ([[syntheticEmbeddings]]: near-dup groups of 17 over
  * an isotropic tail — the worst case for quantized search) at a
  * bench-budget size. Two measurements:
  *
  *  - `recall_r10_ad` / `recall_r100_ad`: the PRODUCTION adaptive shape
  *    ([[Pq.ivfPqSearchRerankAdaptive]], budget = 75% of the corpus,
  *    candidate cut 5001) against exact L2 ground truth;
  *  - `recall_r10_p16` / `recall_r100_p16`: the ADC-only fixed-probe path
  *    (no float re-rank) — the quantizer-ordering signal.
  *
  * Floors are regression pins = measured band minus slack, NOT
  * aspirations (measured at the default 20k-vector bench scale:
  * ad 993/979, p16 662/340 — the deterministic xxhash corpus makes the
  * measurement exactly reproducible; [[main]] pins the full-scale band
  * against the SCALE floors). A floor breach sets `recall_floor_ok:0`
  * in BENCH_r{N}.json, failing the round by name.
  *
  * `sbt 'runMain graft.RecallGate [nVecs]'` (default 1 000 000) runs only
  * the scale pin: [[measureScale]] at `nVecs`, the metrics printed on one
  * line with `scale_floor_ok`, exit status 1 on a floor breach. */
object RecallGate {

  val FloorR10Adaptive = 950L
  val FloorR100Adaptive = 900L
  val FloorR10Adc16 = 550L
  val FloorR100Adc16 = 250L

  /** Floors for the 1M-VECTOR scale curve ([[main]], re-measured per
    * round — BASELINE.md): the same measurement at the
    * scale where probe COVERAGE, not ADC ordering, is the binding
    * constraint. Regression pins = measured band minus slack (r20
    * measured: see BASELINE.md), not aspirations. */
  val ScaleFloorR10Adaptive = 900L
  val ScaleFloorR100Adaptive = 650L
  val ScaleFloorR10Adc16 = 550L
  val ScaleFloorR100Adc16 = 180L

  /** Deterministic synthetic 64-dim embeddings `(vec_id, embedding)`:
    * near-dup groups of 17 consecutive ids around a shared xxhash center,
    * each member offset by a small per-id jitter. */
  private[graft] def syntheticEmbeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => ((pmod(abs(xxhash64(floor(col("id") / 17).cast("long"), i)), lit(2000L)) - 1000L) / 1000.0
          + (pmod(abs(xxhash64(col("id"), i)), lit(11L)) - 5L) * 0.001)
          .cast("float")).as("embedding"))

  def main(args: Array[String]): Unit = {
    val nVecs = if (args.nonEmpty) args(0).toLong else 1000000L
    val spark = LocalSession()
    val t0 = System.nanoTime()
    val (metrics, ok) = measureScale(spark, nVecs)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[recall-gate] vecs=$nVecs%d $secs%.1f s  " +
      metrics.map { case (k, v) => s"$k=$v" }.mkString("  ") +
      s"  scale_floor_ok=${if (ok) 1 else 0}")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** The 1M scale pin: measure at `nVecs` and gate on the SCALE floors. */
  def measureScale(spark: SparkSession, nVecs: Long): (Seq[(String, Long)], Boolean) = {
    val (metrics, _) = measure(spark, nVecs)
    val m = metrics.toMap
    val ok = m("recall_r10_ad") >= ScaleFloorR10Adaptive &&
      m("recall_r100_ad") >= ScaleFloorR100Adaptive &&
      m("recall_r10_p16") >= ScaleFloorR10Adc16 &&
      m("recall_r100_p16") >= ScaleFloorR100Adc16
    (metrics, ok)
  }

  /** Returns the permille metrics plus the floor verdict. */
  def measure(spark: SparkSession, nVecs: Long): (Seq[(String, Long)], Boolean) = {
    val embs = syntheticEmbeddings(spark, nVecs).localCheckpoint()
    val (coarse, pq) = Pq.ivfPqTrain(embs, "vec_id", "embedding",
      dim = 64, cells = 64, m = 8, k = 64)
    val index = Pq.ivfPqEncode(embs, "vec_id", "embedding", coarse, pq)
      .localCheckpoint()
    val nQ = 16
    val qIds: Seq[Long] = (0 until nQ).map(i => i.toLong * (nVecs / nQ) + 3)
    val dot = graft.functions.HashFunctions.dot _
    val corpusV = embs.select(col("vec_id").as("neighbor_id"),
      Similarity.asDouble(col("embedding")).as("vn"))
    val queriesV = embs.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"),
        Similarity.asDouble(col("embedding")).as("vq"))
    // exact ground truth in the served metric (L2), queries broadcast,
    // mergeable top-k — the corpus never shuffles
    val truth = corpusV
      .join(broadcast(queriesV), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("vq"), col("vq")) + dot(col("vn"), col("vn")) -
          lit(2.0) * dot(col("vq"), col("vn"))).as("dist_sq"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore(-col("dist_sq"), col("neighbor_id"), 100)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("query_id"), col("__t.id").as("neighbor_id"),
        (col("__r") + 1).cast("int").as("rank"))
      .localCheckpoint()
    val queries = embs.filter(col("vec_id").isin(qIds: _*))
    def recallPermille(got: DataFrame, k: Int): Long = {
      val hits = truth.filter(col("rank") <= k)
        .join(got.filter(col("arank") <= k), Seq("query_id", "neighbor_id"))
        .count()
      hits * 1000L / (nQ.toLong * k)
    }
    def ranked(df: DataFrame, distCol: String): DataFrame = df
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("arank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col(distCol).asc, col("vec_id").asc)))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("arank"))
      .localCheckpoint()
    val sizes = Pq.cellOccupancy(index)
    // candidate cut scales with the budget (~5% of the probed budget,
    // floor 5001) so the same measurement serves both the 20k bench gate
    // (5001, unchanged) and the 1M scale pin, where a fixed 5001 would
    // bind before probe coverage does
    val adCand = math.max(5001L, nVecs * 3 / 4 / 20).min(100001L).toInt
    val ad = ranked(Pq.ivfPqSearchRerankAdaptive(index, coarse, pq, embs,
      "vec_id", "embedding", queries, candidateBudget = nVecs * 3 / 4,
      maxProbes = 64, candidates = adCand, topK = 101,
      cellSizes = Some(sizes)), "dist_sq_micros")
    val adc = ranked(Pq.ivfPqSearchBatchOverIndex(index, coarse, pq, queries,
      "vec_id", "embedding", nProbes = 16, topK = 101), "dist_micros")
    val metrics = Seq(
      "recall_r10_ad" -> recallPermille(ad, 10),
      "recall_r100_ad" -> recallPermille(ad, 100),
      "recall_r10_p16" -> recallPermille(adc, 10),
      "recall_r100_p16" -> recallPermille(adc, 100))
    val m = metrics.toMap
    val ok = m("recall_r10_ad") >= FloorR10Adaptive &&
      m("recall_r100_ad") >= FloorR100Adaptive &&
      m("recall_r10_p16") >= FloorR10Adc16 &&
      m("recall_r100_p16") >= FloorR100Adc16
    (metrics, ok)
  }
}
