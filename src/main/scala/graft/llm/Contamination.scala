package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share too many
  * word n-grams with a held-out benchmark/eval set — the standard guard
  * against test-set leakage into training corpora.
  *
  * Shape at scale: the benchmark gram set is dimension-sized (eval suites
  * are small), so the overlap test is an explode of the training corpus's
  * distinct grams followed by a broadcast-friendly equi-join against the
  * distinct benchmark grams and one groupBy(doc) — a single shuffle of
  * (doc_id, gram_hash) longs, never of document text. Grams are hashed
  * with the SQL-portable [[TextHash.polyHash]] family so the whole
  * operator is oracle-checkable.
  */
object Contamination {

  /** The boolean verdict column of [[overlap]] and [[semantic]]. */
  private[graft] val Flag = "contaminated"

  /** Corpus-level n-gram Jaccard between two corpora via KMV sketches —
    * the cheap "how much does drop B overlap corpus A" signal run before
    * the per-document passes (L19/L58): each side's distinct word-n-gram
    * set is reduced to its bottom-k scattered hashes
    * ([[graft.functions.KmvHashes]] — ONE pass per side, ≤ k longs per
    * partition through the exchange), and the Jaccard estimate is the
    * standard KMV form (Beyer et al. 2007): with K = bottom-k(A ∪ B)
    * (computable from the two sketches by the KMV merge identity),
    * J ≈ |{h ∈ K : h ∈ sketch(A) ∧ h ∈ sketch(B)}| / |K|. Every
    * quantity is a pure function of the two gram SETS — independent of
    * partitioning and row order — and the estimate is emitted as integer
    * ppm, so even the approximate path is exact-hash mirrorable.
    * Below sketch capacity the answer is exact (`is_exact`).
    *
    * Returns ONE row: (est_jaccard_ppm, est_distinct_a, est_distinct_b,
    * est_distinct_union, is_exact). */
  def corpusOverlap(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      n: Int = 3,
      kmvK: Int = 256): DataFrame = {
    require(n >= 1 && kmvK >= 4, "corpusOverlap: need n >= 1 and k >= 4")
    val M = TextHash.Prime
    def sketch(df: DataFrame, as: String): DataFrame =
      // the compiled per-doc distinct n-gram-hash kernel feeds the sketch
      // precomputed polyHash longs: set semantics are unchanged (KMV sees
      // a value SET; per-doc dedup cannot change the corpus union), and
      // the interpreted transform/concat_ws gram-string spelling this
      // replaces measured 8.8 s of the sf0.1 suite — the C1-profile
      // lesson (compiled kernels for per-token hot loops) applied here
      df.select(explode(
          graft.functions.HashFunctions.ngramHashes(col(textCol), n)).as("__h"))
        .agg(graft.functions.KmvHashes(col("__h"), kmvK).as(as))
    def estDistinct(name: String): Column =
      when(size(col(name)) < kmvK, size(col(name)).cast("long"))
        .otherwise(expr(
          s"CAST(${kmvK - 1} AS BIGINT) * CAST($M AS BIGINT) DIV element_at($name, $kmvK)"))
    sketch(a, "__ka").crossJoin(sketch(b, "__kb"))
      .withColumn("__ku",
        slice(array_sort(array_distinct(concat(col("__ka"), col("__kb")))), 1, kmvK))
      .withColumn("__inter",
        size(filter(col("__ku"), h =>
          array_contains(col("__ka"), h) && array_contains(col("__kb"), h))))
      .select(
        when(size(col("__ku")) === 0, lit(0L))
          .otherwise(expr("CAST(1000000 AS BIGINT) * __inter DIV size(__ku)"))
          .as("est_jaccard_ppm"),
        estDistinct("__ka").as("est_distinct_a"),
        estDistinct("__kb").as("est_distinct_b"),
        estDistinct("__ku").as("est_distinct_union"),
        (size(col("__ku")) < kmvK).as("is_exact"))
  }

  /** Per-document benchmark overlap: (doc_id, n_grams, n_matched,
    * contamination_ratio, contaminated).
    *
    * @param docs      corpus (benchmark docs included; they report ~1.0)
    * @param benchmark held-out set to protect
    * @param n         word n-gram width
    * @param maxRatio  contamination threshold on matched/total grams
    */
  def overlap(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      maxRatio: Double = 0.2): DataFrame = {
    val grams = docs.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.HashFunctions.ngramHashes(col(textCol), n)).as("g"))
    val benchGrams = benchmark
      .select(explode(graft.functions.HashFunctions.ngramHashes(col(textCol), n)).as("g"))
      .distinct()
    // ONE corpus explode pass + ONE (doc_id) shuffle for both counts:
    // the bench-gram set is distinct, so a left join marks each gram row
    // with exactly 0 or 1 hit and `count(col)` over the mark equals the
    // old semi-join count — the separate totals/matched aggregations
    // each re-exploded the corpus and shuffled (doc_id, cnt) separately
    // (guide §2.3: aggregate once, never re-run a corpus pass for a
    // second statistic of the same rows).
    val counts = grams
      .join(benchGrams.withColumn("__hit", lit(1)), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_matched"))
    // docs too short for a single n-gram never enter `grams`; restore them
    // with zero counts so the report covers the whole corpus
    docs.select(col(idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("n_matched"), lit(0L)).cast("double") / col("n_grams"))
          .as("contamination_ratio"),
        (when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("n_matched"), lit(0L)).cast("double") / col("n_grams"))
          >= maxRatio).as(Flag))
  }

  /** Contaminated-span REMOVAL — the apply side of [[overlap]]: instead
    * of dropping a whole document over a few leaked n-grams, rebuild its
    * text with every token covered by a benchmark n-gram removed (the
    * span-surgery discipline of [[Dedup.removeDupSpans]], pointed at a
    * benchmark instead of cross-document duplicates) — the doc is
    * salvaged, the leak is not.
    *
    * Scale shape: the benchmark is eval-sized, so its distinct gram-hash
    * set BROADCASTS and the corpus never shuffles for the match — one
    * positional-gram projection, a broadcast semi-join, then the shared
    * rebuild (one doc-keyed aggregation). Returns (doc_id, n_tokens,
    * kept_tokens, text_clean); NULL-text docs surface with NULL
    * n_tokens. */
  def removeOverlap(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextHash.wordTokens(col(textCol))).as(Seq("tok0", "token")))
      .select(col("doc_id"), (col("tok0") + 1).as("tok_idx"), col("token"))
    val grams = docs
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.HashFunctions.posNgramHashes(col(textCol), n))
          .as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("gram"))
    val benchGrams = benchmark
      .select(explode(graft.functions.HashFunctions.ngramHashes(col(textCol), n)).as("gram"))
      .distinct()
    val dropSet = grams
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tok_idx"))
      .distinct()
      .localCheckpoint() // feeds the anti-join AND the dropped arithmetic
    Dedup.rebuildWithoutSpans(docs, idCol, textCol, toks, dropSet)
  }

  /** Semantic (embedding-space) decontamination — the modern complement
    * to [[overlap]]'s n-gram test: an eval answer paraphrased into
    * training data shares no 3-grams but sits at high cosine to the eval
    * embedding. Flags every corpus vector whose cosine to ANY benchmark
    * vector reaches `minCosine`.
    *
    * Shape at scale (the [[Similarity.nearDupPairs]] bipartite form):
    * both sides take sign-LSH buckets in a zero-shuffle kernel
    * projection; the benchmark side (eval suites are dimension-sized) is
    * exploded to its `multiprobe`+1 probe buckets and BROADCAST, so the
    * corpus never shuffles — candidates are a broadcast equi-join on the
    * bucket id, exact cosines rank them, and one (vec_id)-keyed
    * aggregation (map-side combinable) lands the per-document verdict.
    * Recall dials: fewer planes → bigger buckets; `multiprobe` flips
    * low-order sign bits (the [[Similarity.lshTopK]] dial).
    *
    * Zero-norm vectors have no cosine to anything and are excluded from
    * BOTH sides (the [[Similarity]] `normedVectors` contract); an
    * excluded corpus vector still reports, with zero hits.
    *
    * Returns (vec_id, n_bench_hits, max_cosine — 0.0 when no hit,
    * contaminated). */
  def semantic(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      nPlanes: Int = 4,
      minCosine: Double = 0.8,
      multiprobe: Int = 0): DataFrame = {
    val c = Similarity.withBuckets(corpus, idCol, vecCol, nPlanes)
      .filter(col("norm") > 0)
    val probes =
      array((col("bucket") +: (0 until multiprobe).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j)))): _*)
    val bench = Similarity.withBuckets(benchmark, idCol, vecCol, nPlanes)
      .filter(col("norm") > 0)
      .select(explode(probes).as("bucket"),
        col("vec_id").as("bench_id"), col("v").as("vb"), col("norm").as("nb"))
    val hits = c
      .join(broadcast(bench), Seq("bucket"))
      .select(col("vec_id"),
        (graft.functions.HashFunctions.dot(col("v"), col("vb")) /
          (col("norm") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_bench_hits"), max(col("cosine")).as("max_cosine"))
    corpus.select(col(idCol).as("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
        coalesce(col("max_cosine"), lit(0.0)).as("max_cosine"),
        col("n_bench_hits").isNotNull.as(Flag))
  }
}
