package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import TextHash._

/** PMI collocation mining — the word2phrase/phrase-detection pass of a
  * training-data pipeline (Mikolov et al. 2013 §4; Church & Hanks 1990):
  * score every adjacent token pair by pointwise mutual information,
  * `PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) )`, so high-PMI pairs ("new
  * york") can be joined into phrase tokens before tokenizer training
  * (complementing [[Bpe]], which merges by raw frequency) and corpus
  * statistics ([[TextAnalysis.pairVocabulary]] counts pairs; this ranks
  * their ASSOCIATION, which frequency alone cannot — "of the" is
  * frequent but not associated).
  *
  * Scale shape (the [[LangModel]] posture): one (token)-shuffled corpus
  * pass for unigram counts, one (pair)-shuffled pass for adjacent-pair
  * counts, both with map-side combine; corpus totals T (tokens) and P
  * (pairs) reduce from the ALREADY-aggregated tables, not the corpus;
  * the emitted table is capped to pairs with both sides in the
  * top-`vocabSize` vocabulary and `cnt ≥ minCount` (the standard
  * collocation support floor), so every join side is dimension-sized and
  * broadcast.
  *
  * Determinism: PMI is quantized to integer micros over a fixed
  * left-associated double fold — `(cnt·T·T) / (P·c1·c2)` with each
  * factor cast to double, IEEE mult/div exactly rounded, then
  * `round(ln(·)·1e6)` — the same acknowledged cross-engine `ln` ulp
  * hazard as [[Classify]]/[[LangModel]] (measured by
  * `LnBoundaryMarginSpec`).
  *
  * Returns (t1, t2, cnt, c1, c2, pmi_micros). */
object Collocations {

  def pmi(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int = 64,
      minCount: Int = 2): DataFrame = {
    require(vocabSize > 0 && minCount >= 1, "need vocabSize > 0 and minCount >= 1")
    // materialized once: uni feeds vocab (x2 broadcast sides) and the
    // t_total aggregate, pairs feeds p_total and the main join — without
    // the checkpoints each broadcast re-runs its corpus explode+aggregate
    // subtree (~5 corpus passes per table; guide §2.3/§5, the LangModel
    // fix applied here). Both relations are vocabulary-sized.
    // corpus totals RIDE the table checkpoints as observed metrics (the
    // loop/observe discipline): T and P come out of the same jobs that
    // materialize uni and pairs — no separate aggregate actions (an r22
    // A/B measured the separate-collect spelling 0.07 s slower than the
    // r21 broadcast tail; with the observes the driver tail wins)
    val obsU = new org.apache.spark.sql.Observation()
    val uni = docs.select(explode(wordTokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .observe(obsU, sum(col("cnt")).as("t_total"))
      .localCheckpoint()
    val vocab = uni.orderBy(col("cnt").desc, col("token").asc).limit(vocabSize)
    val obsP = new org.apache.spark.sql.Observation()
    val pairs = docs
      .select(bindOnce(wordTokens(col(textCol)), t =>
        // size guard: sequence(1, 0) DESCENDS instead of being empty —
        // the trap TextHash.wordNgrams documents
        when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1), i =>
            struct(element_at(t, i).as("t1"), element_at(t, i + 1).as("t2"))))
          .otherwise(array().cast("array<struct<t1:string,t2:string>>"))).as("ps"))
      .select(explode(col("ps")).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
      .observe(obsP, sum(col("cnt")).as("p_total"))
      .localCheckpoint()
    // The emitted table is ≤ vocab² rows, so it is built on the DRIVER
    // from two bounded reads of the two checkpoints (r22, the nbTrain
    // discipline): top-V vocab from uni and the vocab-restricted
    // supported pairs from pairs; T and P arrive as the checkpoints'
    // observed metrics. The r21 distributed tail paid a broadcast-build
    // job per reference (vocab ×2, T, P) — the measured +0.19 s local
    // checkpoint cost r21 accepted is repaid. Driver arithmetic is
    // bit-identical: the same left-associated IEEE fold, StrictMath.log
    // (exactly Spark's log — NbTrainDriverMathSpec) and the
    // round()::long chain.
    val vocabRows = vocab.select("token", "cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val cOf = vocabRows.toMap
    val vocabSeq = vocabRows.map(_._1).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t1",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("t2",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c1",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c2",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pmi_micros",
        org.apache.spark.sql.types.LongType, nullable = false)))
    if (vocabSeq.isEmpty)
      return DriverTable(docs.sparkSession, schema, Nil)
    // sum over zero rows is SQL NULL → 0 (vocabSeq nonempty implies a
    // non-null T; P can still be null on a pairless corpus)
    val tTotV = Option(obsU.get.apply("t_total"))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val pTotV = Option(obsP.get.apply("p_total"))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val kept = pairs
      .filter(col("cnt") >= minCount &&
        col("t1").isin(vocabSeq: _*) && col("t2").isin(vocabSeq: _*))
      .collect()
    val rows = kept.toSeq.map { r =>
      val (t1, t2, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
      val (cc1, cc2) = (cOf(t1), cOf(t2))
      org.apache.spark.sql.Row(t1, t2, cnt, cc1, cc2,
        graft.functions.GraftVecOps.roundAsSpark(
          StrictMath.log(
            (cnt.toDouble * tTotV * tTotV) /
              (pTotV.toDouble * cc1 * cc2)) * 1e6))
    }
    DriverTable(docs.sparkSession, schema, rows)
  }

  /** Apply a trained phrase table (the word2phrase second half): greedy
    * LEFT-TO-RIGHT single-pass merge of adjacent token pairs that appear
    * in `phrases` — "new york" becomes the single token "new_york" before
    * tokenizer training. A token produced by a merge never re-merges
    * (single pass over ORIGINAL pairs — the word2phrase contract; phrase
    * chains come from re-running with the merged corpus), enforced by
    * the joiner-freedom precondition, so a source token that already
    * contains U+0001 is never merged either (deterministic on both
    * engines; real tokenizer corpora do not carry control chars).
    *
    * Zero shuffle: the phrase table is dimension-sized (vocab² at most,
    * in practice the high-PMI head) and bakes in as a literal consumed by
    * the compiled [[graft.functions.GraftModelOps.phraseMerge]] kernel —
    * one linear pass per document against a per-thread memoized phrase
    * set (the [[Bpe.encode]] application posture without the per-word
    * memo; documents fold once, there is no word histogram to exploit).
    *
    * Returns (doc_id, n_tokens, n_after, text_merged) — merged tokens
    * joined by '_', docs re-joined by ' '; NULL text yields (0, 0, ''). */
  def mergePhrases(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrases: Seq[(String, String)]): DataFrame = {
    // compiled kernel (guide §4): the previous `aggregate` HOF fold was
    // CodegenFallback AND rebuilt the accumulator array per token —
    // O(tokens²) array copies per document, re-evaluated per consuming
    // column; the kernel is one linear pass per row against a per-thread
    // memoized phrase set, with identical merge semantics (see
    // [[graft.functions.GraftModelOps.phraseMerge]]) and the same NULL
    // contract
    docs.select(
      col(idCol).as("doc_id"),
      graft.functions.GraftModelOps.phraseMergeKernel(
        col(textCol), phrases.map { case (a, b) => a + "\u0001" + b }).as("m"))
      .select(col("doc_id"), col("m.n_tokens").as("n_tokens"),
        col("m.n_after").as("n_after"), col("m.text_merged").as("text_merged"))
  }
}
