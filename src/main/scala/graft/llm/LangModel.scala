package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextHash._

/** Trainable bigram language model for perplexity-style quality scoring —
  * the CCNet/KenLM-shaped curation filter: train n-gram statistics on a
  * reference corpus, score every document by its summed per-bigram
  * log-probability; low-probability documents are gibberish, boilerplate,
  * or out-of-domain. ([[TextAnalysis.qualityScore]] is the fixed-rule
  * filter; [[Classify]] the supervised one; this is the distributional
  * one — together the standard curation triad.)
  *
  * Model: add-one-smoothed bigram probabilities over a top-`vocabSize`
  * vocabulary, `P(t2|t1) = (c(t1,t2) + 1) / (c(t1) + V)`. The stored
  * table is SPARSE (observed bigrams only): an unobserved bigram of
  * in-vocab tokens needs nothing beyond its left token's unigram count —
  * `log(1 / (c(t1) + V))` — so the fallback rides in the unigram table.
  * Pairs with an out-of-vocab token on either side are skipped (same
  * OOV contract as [[Classify.nbScoreWith]]).
  *
  * Scale shape: training is one corpus pass for unigrams and one for
  * adjacent bigrams, both (token)-shuffled with map-side combine; the
  * capped vocabulary keeps both model tables dimension-sized (natural-
  * language bigram tables grow ~linearly in corpus vocab, not V²).
  * Scoring is a ZERO-shuffle projection: both tables collect driver-side
  * (the [[Similarity.ivfTopKWith]] eager posture) and the document folds
  * its adjacent token pairs over two literal maps with integer micro-log
  * sums — order-insensitive, exactly hash-checkable.
  *
  * The `round(ln(·)·1e6)` model quantization shares [[Classify]]'s
  * acknowledged cross-engine `ln` ulp hazard; `LnBoundaryMarginSpec`
  * measures every trained unigram/bigram entry's distance from its `.5`
  * rounding boundary on the gate corpora.
  */
object LangModel {

  /** Unigram table over the capped vocab:
    * (token, cnt, fallback_micros = round(ln(1/(cnt+V))·1e6)). */
  def lmUnigrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int = 64): DataFrame = {
    // ONE corpus pass (tokenize + count + top-V TakeOrdered), collected
    // (≤ V rows — dimension-sized), then driver arithmetic builds the
    // table as a DriverTable: every consumer (the bigram build's vocab
    // collect, the score collect) reads its rows without a job.
    // StrictMath.log / roundAsSpark are bit-identical to the log/round
    // SQL spelling (NbTrainDriverMathSpec).
    val top = docs.select(explode(wordTokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(vocabSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val vSize = top.length.toLong
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("token",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("fallback_micros",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = top.toSeq.map { case (t, c) =>
      org.apache.spark.sql.Row(t, c,
        graft.functions.GraftVecOps.roundAsSpark(
          StrictMath.log(1.0 / (c + vSize).toDouble) * 1e6))
    }
    DriverTable(docs.sparkSession, schema, rows)
  }

  /** Sparse bigram table restricted to the vocab:
    * (t1, t2, cnt, loglik_micros = round(ln((cnt+1)/(c1+V))·1e6)). */
  def lmBigrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int = 64): DataFrame =
    // the unigram table is a DriverTable (one corpus pass inside
    // lmUnigrams, collected): lmBigramsWith's vocab collect reads its
    // rows in place, not the corpus, so no checkpoint
    lmBigramsWith(docs, textCol, lmUnigrams(docs, idCol, textCol, vocabSize))

  /** [[lmBigrams]] over an already-materialized unigram table (callers
    * that train both tables — [[lmScore]], [[ccnetBuckets]],
    * [[graft.llm.CurationArtifacts]] — compute the corpus unigram pass
    * exactly once and reuse it here). `uni` must be small: it is
    * collected to the driver. */
  def lmBigramsWith(
      docs: DataFrame,
      textCol: String,
      uni: DataFrame): DataFrame = {
    // vocab + counts from the (dimension-sized) unigram table: one
    // bounded collect — runs no job when uni is a DriverTable
    val uniRows = uni.select("token", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val vSize = uniRows.length.toLong
    val c1 = uniRows.toMap
    val vocab = uniRows.map(_._1).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t1",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("t2",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("loglik_micros",
        org.apache.spark.sql.types.LongType, nullable = false)))
    if (vocab.isEmpty)
      return DriverTable(docs.sparkSession, schema, Nil)
    val pairs = docs
      .select(bindOnce(wordTokens(col(textCol)), t =>
        // size guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
        // being empty — same trap TextHash.wordNgrams documents
        when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1), i =>
            struct(element_at(t, i).as("t1"), element_at(t, i + 1).as("t2"))))
          .otherwise(array().cast("array<struct<t1:string,t2:string>>"))).as("ps"))
      .select(explode(col("ps")).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
    // the sparse table is ≤ vocab² rows — restrict the aggregated pairs
    // to the vocab and build it on the driver (the nbTrain discipline:
    // the score collect then reads it without a job; driver math is
    // bit-identical to the SQL spelling — NbTrainDriverMathSpec)
    val kept = pairs
      .filter(col("t1").isin(vocab: _*) && col("t2").isin(vocab: _*))
      .collect()
    val rows = kept.toSeq.map { r =>
      val (t1, t2, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
      org.apache.spark.sql.Row(t1, t2, cnt,
        graft.functions.GraftVecOps.roundAsSpark(
          StrictMath.log((cnt + 1L).toDouble / (c1(t1) + vSize).toDouble) * 1e6))
    }
    DriverTable(docs.sparkSession, schema, rows)
  }

  /** Score every document against trained tables: (doc_id,
    * [passThrough...], n_pairs, lp_micros) — `n_pairs` counts the
    * adjacent token pairs with both sides in vocab, `lp_micros` their
    * integer micro-log-prob sum (unobserved in-vocab bigrams take the
    * left token's fallback). EAGER dimension-sized collect of both model
    * tables. `passThrough` carries source columns so downstream gating
    * stays a pure projection (same rationale as
    * [[Classify.nbScoreWith]]). */
  def lmScoreWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      unigrams: DataFrame,
      bigrams: DataFrame,
      passThrough: Seq[String] = Nil): DataFrame = {
    val reserved = Seq("doc_id", "n_pairs", "lp_micros")
    val clashes = passThrough.intersect(reserved) ++
      passThrough.diff(passThrough.distinct)
    require(clashes.isEmpty,
      s"lmScoreWith passThrough collides with generated/duplicate columns: ${clashes.mkString(", ")}")
    val uni = unigrams.select("token", "fallback_micros").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val bi = bigrams.select("t1", "t2", "loglik_micros").collect()
      .map(r => (r.getString(0) + " " + r.getString(1)) -> r.getLong(2)).toSeq
    // compiled kernel: a bigram table as a literal map would pay a
    // LINEAR scan per lookup (C1 measured 254 s for 500k docs); the
    // kernel hashes both tables once per thread — see GraftModelOps.
    // Same integer sums, same outputs.
    docs.select(
      (col(idCol).as("doc_id") +: passThrough.map(col)) :+
        graft.functions.GraftModelOps.lmScoreKernel(col(textCol), uni, bi).as("s"): _*)
      .select((("doc_id" +: passThrough) :+ "s.*").map(col): _*)
  }

  /** Self-train-and-score (the registry/eval shape); production persists
    * [[lmUnigrams]]/[[lmBigrams]] once and scores each drop. */
  def lmScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int = 64,
      passThrough: Seq[String] = Nil): DataFrame = {
    // ONE corpus unigram pass feeds both the score collect and the bigram
    // build (lmBigrams would otherwise re-train its own copy); the table
    // is a DriverTable, so no checkpoint is needed to share it
    val uni = lmUnigrams(docs, idCol, textCol, vocabSize)
    lmScoreWith(docs, idCol, textCol, uni,
      lmBigramsWith(docs, textCol, uni), passThrough)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): per
    * language, split the corpus into head/middle/tail THIRDS by
    * per-token LM score — the standard recipe for keeping a quality
    * dial on web data without a supervised filter.
    *
    * Shape chosen for scale: NOT a per-lang `ntile` window (one reducer
    * per language — the 100 TB killer); instead per-lang tercile
    * CUTOFFS from one aggregation, broadcast back over the unshuffled
    * scored scan (the [[Events.outliers]] posture). `exact = true` uses
    * exact interpolated percentiles (the oracle mode, mirrored by
    * DuckDB `quantile_cont` to the bit); production flips to the
    * mergeable `percentile_approx` sketch — CCNet itself thresholds on
    * a sample, so approximate cutoffs are the faithful production
    * semantics.
    *
    * Per-token score = `round(1e6 · lp_micros / n_pairs)` as an integer
    * (the IEEE division of engine-identical integers is exactly
    * rounded, and the micros quantization keeps every comparison an
    * INTEGER compare — no floor-division sign hazard, no ulp-sensitive
    * double ordering). The interpolated cutoffs round to micros too, so
    * the only cross-engine exposure is a percentile landing within an
    * ulp of a .5 micros boundary — the same acknowledged risk class as
    * the `ln` quantization ([[Classify]] scaladoc). Docs with no
    * scorable pair have NULL score and land in `tail`; ties at a
    * cutoff bucket upward (`>=`). Buckets are value-thresholded, so
    * sizes are only approximately N/3 under ties — exactly CCNet's
    * behavior.
    *
    * Returns (doc_id, lang, n_pairs, lp_micros, tok_lp_micros, bucket). */
  def ccnetBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      vocabSize: Int = 64,
      exact: Boolean = true): DataFrame = {
    val uni = lmUnigrams(docs, idCol, textCol, vocabSize) // a DriverTable
    val scored = lmScoreWith(docs, idCol, textCol, uni,
        lmBigramsWith(docs, textCol, uni),
        passThrough = Seq(langCol))
      .withColumn("tok_lp_micros",
        when(col("n_pairs") === 0, lit(null).cast("long"))
          .otherwise(round(lit(1000000.0) * col("lp_micros").cast("double")
            / col("n_pairs")).cast("long")))
    val cuts =
      if (exact)
        scored.groupBy(langCol).agg(
          round(percentile(col("tok_lp_micros"), lit(1.0 / 3))).cast("long").as("__c_lo"),
          round(percentile(col("tok_lp_micros"), lit(2.0 / 3))).cast("long").as("__c_hi"))
      else
        scored.groupBy(langCol).agg(
          round(percentile_approx(col("tok_lp_micros"), lit(1.0 / 3), lit(10000)))
            .cast("long").as("__c_lo"),
          round(percentile_approx(col("tok_lp_micros"), lit(2.0 / 3), lit(10000)))
            .cast("long").as("__c_hi"))
    scored.join(broadcast(cuts), Seq(langCol))
      .select(col("doc_id"), col(langCol), col("n_pairs"), col("lp_micros"),
        col("tok_lp_micros"),
        when(col("tok_lp_micros").isNull, "tail")
          .when(col("tok_lp_micros") >= col("__c_hi"), "head")
          .when(col("tok_lp_micros") >= col("__c_lo"), "middle")
          .otherwise("tail").as("bucket"))
  }
}
