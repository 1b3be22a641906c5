package graft.llm

import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextHash._

/** Corpus deduplication operators for training-data pipelines.
  *
  * Detection families plus clustering ([[clusters]] — connected
  * components turning pair tables into keep/drop decisions), each shaped
  * for a 1000-executor / 100 TB run:
  *
  *  - [[exact]]: hash-groupBy on `md5(text)`. One shuffle on a 32-byte
  *    content hash (never on the full text — shuffling multi-KB keys is
  *    the classic mistake at scale); the 128-bit space makes accidental
  *    collisions negligible at any corpus size, so no in-group equality
  *    guard is needed.
  *  - [[minhashPairs]]: MinHash + banded LSH over character shingles.
  *  - [[ngramJaccardPairs]]: the same LSH skeleton over word n-grams.
  *  - [[simhashFingerprints]] / [[simhashPairs]]: 24-bit SimHash; pair
  *    generation blocks on 6-bit sub-bands (pigeonhole: hamming <= 3
  *    guarantees a matching band), verified by exact `bit_count(xor)`.
  *
  * Candidate generation is ONE aggregation, never a self-join: band
  * digests are grouped into buckets (`collect_list`) and pairs expand
  * inside each bucket with a nested `transform` — a self-join on the band
  * key would re-evaluate the whole signature pipeline on both sides and
  * shuffle it twice. Buckets above [[MaxBucket]] are dropped: an LSH
  * bucket that large is a degenerate duplicate *cluster* (the classic LSH
  * skew hazard at scale) that exact dedup already collapses; pair-wise
  * expansion of it is O(n²) noise. Verification is two-stage: candidates
  * are first screened by the MinHash Jaccard estimate (an integer
  * agreement count over the 8*perms-byte signatures), and only survivors
  * pay the exact-Jaccard join that ships the full hashed element sets
  * (`array<long>`, still ~8x smaller on the wire than the strings).
  *
  * All arithmetic is SQL-portable (see [[TextHash]]) so every operator —
  * including the bucket cap and pair expansion — is oracle-checked
  * end-to-end by the driver's DuckDB gate.
  */
object Dedup {

  /** Buckets larger than this are dropped from pair expansion (see above). */
  val MaxBucket = 64

  /** Exact duplicate groups: one row per distinct text with the surviving
    * (minimum) id and the number of copies. Callers keep `keep_id`.
    *
    * Groups on `md5(text)`, the industry-standard content-hash dedup: the
    * shuffle key is 32 bytes regardless of document size (grouping on the
    * text itself would ship every document through the shuffle), identical
    * on both engines (lowercase hex in Spark and DuckDB), and its 128-bit
    * space makes accidental collisions negligible at any corpus size —
    * unlike the 30-bit portable [[TextHash.polyHash]], which would need an
    * in-group text-equality guard. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("text_md5"))
      .groupBy(col("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("text_md5"), col("n_copies"))

  /** Incremental exact dedup: the daily-ingest shape — drop new documents
    * whose content hash already exists in the historical corpus, and
    * dedup the batch against itself (keep the minimum id per hash). The
    * historical side needs only its `md5` column (32 bytes/doc — the
    * corpus text never moves); the anti-join shuffles hashes, not
    * documents, and broadcasts when the history digest fits. Returns the
    * surviving (keep_id, text_md5) rows of the new batch. */
  def incremental(newDocs: DataFrame, idCol: String, textCol: String, seenMd5: DataFrame): DataFrame =
    newDocs
      .select(col(idCol), md5(col(textCol)).as("text_md5"))
      .join(seenMd5.select(col("text_md5")), Seq("text_md5"), "left_anti")
      .groupBy(col("text_md5"))
      .agg(min(col(idCol)).as("keep_id"))
      .select(col("keep_id"), col("text_md5"))

  /** Shared LSH skeleton: `sh` must be (doc_id, hs: array<long>) with hs
    * the distinct element-hash set. Signature → band digests → bucket
    * groupBy → in-bucket pair expansion → exact-Jaccard verify on hs. */
  private def lshVerifiedPairs(
      shRaw: DataFrame,
      perms: Int,
      nBands: Int,
      rowsPerBand: Int,
      minJaccard: Double,
      maxBucket: Int,
      estSlack: Double): DataFrame = {
    require(nBands * rowsPerBand == perms, "perms must equal nBands * rowsPerBand")
    // The (doc_id, hs, sig) relation feeds four plan subtrees — banding
    // plus both sides of the estimate and verification joins — and Spark
    // re-executes a subtree per occurrence. Shingle-hashing the corpus is
    // the most expensive CPU stage of the operator, so materialize it once
    // (hs arrays are ~the text's size; a corpus-copy spill beats a 4x
    // recompute + 3x extra source scan at any scale). The signature rides
    // along: 8*perms bytes per doc, computed exactly once.
    val sh = shRaw
      .withColumn("sig", HashFunctions.minhashSignature(col("hs"), perms))
      .localCheckpoint()
    val banded = sh
      .select(col("doc_id"), explode(bandDigests(col("sig"), nBands, rowsPerBand)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.band_hash").as("band_hash"))
    val pairs = bucketPairs(
      banded.groupBy(col("band"), col("band_hash"))
        .agg(collect_list(col("doc_id")).as("ids")),
      maxBucket,
      (x, y) => struct(x.as("doc_a"), y.as("doc_b")))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct() // a pair may collide in several bands; verify once
    // Two-stage verification. Band collision is a weak filter (every pair
    // sharing ONE band survives — on a homogeneous corpus that is nearly
    // all pairs), so first screen candidates with the MinHash estimate the
    // signatures already encode: ship 8*perms bytes per side and compare
    // an integer agreement count. Only survivors pay the exact-Jaccard
    // join, which ships the full hashed shingle sets (~the document size).
    // `minAgree` rounds the slacked threshold to the estimator's actual
    // granularity (agreement is k/perms), keeping the cut engine-exact;
    // estSlack trades recall for verify cost (at perms=64 the estimator's
    // sd is ~0.06 near j=0.5, so the default 0.15 is ~2.5 sd — a pair at
    // the decision boundary is overwhelmingly likely to survive).
    val minAgree = math.ceil((minJaccard - estSlack) * perms).toInt
    // Candidate-restriction before the verify joins. The verify joins
    // only need sh rows for ids that actually appear in a candidate
    // pair. With broadcastable candidates (the common case — AQE
    // broadcasts the pair side) the OLD direct-join shape already
    // avoided corpus shuffles, but it STREAMED the full cached
    // (doc_id, hs, sig) relation through four broadcast joins — 4×
    // corpus-payload scan+probe passes (2.4 GB each at C1's 500k docs;
    // shuffle-byte A/B: ~90 MB either way, so the cost is the streaming,
    // not the exchange — min wall 87 → 42 s on a storm-noisy host). So:
    // ONE left_semi of sh against the candidate id set, MATERIALIZED
    // once (all four join sides read it; an unmaterialized semi would
    // re-execute per side), carrying both payloads — one corpus-wide
    // pass total, and the verify joins stream only O(candidates). In the
    // non-broadcastable-candidates regime (adversarial corpora at 100 TB)
    // this also caps every verify exchange at O(candidate payloads)
    // instead of O(corpus payloads).
    val pairsM = pairs.localCheckpoint() // feeds the id set + both joins
    val shCand = sh
      .join(
        pairsM.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // Two-stage kept deliberately: an r21 intra-session A/B of this
    // two-stage shape against a fused single-join-pair form (sig and hs
    // attached together, conjunctive filters) measured the fused form
    // ~35% SLOWER at bench scale (1.66 vs 2.24 s min-of-5 alternating,
    // OPTIMIZATION_r21.md) — and at scale the fused form also ships hs for
    // candidates that fail the screen. Narrower rows through the joins
    // beat fewer joins here.
    val screened = pairsM
      .join(shCand.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(shCand.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .filter(HashFunctions.sigAgreement(col("sig_a"), col("sig_b")) >= minAgree)
      .select(col("doc_a"), col("doc_b"))
    screened
      .join(shCand.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(shCand.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        HashFunctions.jaccardLong(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Expand each capped bucket's id list into ordered pairs `p` via nested
    * transform — zero joins, zero recompute. `mk(x, y)` builds the output
    * struct for an (x, y) pair with x < y. */
  private[llm] def bucketPairs(buckets: DataFrame, maxBucket: Int, mk: (Column, Column) => Column): DataFrame =
    buckets
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(flatten(transform(col("ids"), x =>
        transform(filter(col("ids"), y => y > x), y => mk(x, y))))).as("p"))

  /** MinHash-LSH near-duplicate pairs over character shingles with
    * exact-Jaccard verification (on the hashed shingle sets).
    *
    * @param shingleK     character shingle width
    * @param perms        MinHash permutations (= nBands * rowsPerBand)
    * @param nBands       LSH bands; collision threshold ~ (1/nBands)^(1/rows)
    * @param rowsPerBand  signature rows folded per band
    * @param minJaccard   exact shingle-set Jaccard a candidate must meet
    * @param estSlack     signature-estimate screening margin below
    *                     minJaccard (see [[lshVerifiedPairs]])
    * @return (doc_a, doc_b, jaccard), doc_a < doc_b
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      perms: Int = 64,
      nBands: Int = 16,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5,
      maxBucket: Int = MaxBucket,
      estSlack: Double = 0.15): DataFrame =
    lshVerifiedPairs(
      docs.select(
        col(idCol).as("doc_id"),
        HashFunctions.shingleHashes(col(textCol), shingleK).as("hs")),
      perms, nBands, rowsPerBand, minJaccard, maxBucket, estSlack)

  /** Word n-gram Jaccard near-duplicate pairs. Candidates come from the
    * same MinHash-LSH skeleton (2-row bands: collision threshold
    * (1/32)^(1/2) ≈ 0.18, i.e. ~100% recall at the 0.5 default); the
    * emitted Jaccard is the exact value over the hashed gram sets. A plain
    * inverted-index join computes the same pairs exactly but explodes
    * quadratically on high-frequency grams (a 31-word vocabulary makes
    * every gram hot) — the LSH pre-filter is what survives scale. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 64,
      nBands: Int = 32,
      rowsPerBand: Int = 2,
      minJaccard: Double = 0.5,
      maxBucket: Int = MaxBucket,
      estSlack: Double = 0.15): DataFrame =
    lshVerifiedPairs(
      docs.select(
        col(idCol).as("doc_id"),
        HashFunctions.ngramHashes(col(textCol), n).as("hs")),
      perms, nBands, rowsPerBand, minJaccard, maxBucket, estSlack)

  /** Edge-count gate for the exact DRIVER-side component labeling in
    * [[smallGraphLabels]]: 65 536 canonical edges ≈ 1 MB collected — far
    * below the model tables and candidate-bucket sets the operators here
    * already collect (the bounded-driver-collect discipline of
    * [[graft.streaming.CorpusStream]] and [[Clustering]]'s driver-held
    * centroids). Above the gate, or for non-long ids, the distributed
    * star loop runs. */
  val SmallGraphMaxEdges: Long = 65536L

  private def longIds(df: DataFrame, a: String, b: String): Boolean =
    df.schema(a).dataType == org.apache.spark.sql.types.LongType &&
      df.schema(b).dataType == org.apache.spark.sql.types.LongType

  /** Exact min-id connected components of a SMALL edge set on the
    * driver: union-find whose union always points the LARGER root at the
    * smaller, so every root IS its component's minimum id — literally
    * the fixpoint the distributed loop iterates toward, without its
    * per-round checkpoint actions and exchanges (the sf0.1 scaling pin
    * measured the loop job-floor-bound: 8-core ≈ 32-core until the
    * graph outgrows the driver anyway). Returns the (doc_id, cluster_id)
    * rows for nodes that touch an edge, as a [[DriverTable]] — its size
    * is known, so the universe join against it broadcasts instead of
    * shuffling. Result is identical to the loop's (min reachable id;
    * iteration-order independent), so the same oracles pin it. */
  private[llm] def smallGraphLabels(
      edges: Array[(Long, Long)],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val parent = new java.util.HashMap[Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r).longValue() != r) r = parent.get(r).longValue()
      var c = x
      while (c != r) { val n = parent.get(c).longValue(); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val it = parent.keySet().iterator()
    val rows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](parent.size())
    while (it.hasNext) {
      val n = it.next().longValue()
      rows += org.apache.spark.sql.Row(n, find(n))
    }
    DriverTable(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false))),
      rows.toSeq)
  }

  /** Shared tail of both [[clusters]] paths: re-attach singletons by a
    * left join of the universe against the edge-node labels. */
  private def labelJoin(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("cluster_id", "edge_cluster_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("edge_cluster_id"), col("doc_id")).as("cluster_id"))

  /** Connected components over a near-duplicate pair table: every document
    * gets the minimum doc id reachable through pair edges as its
    * `cluster_id` (singletons cluster with themselves). This is the step
    * that turns pair detection into a dedup *decision* — keep one doc per
    * cluster. The result (min id per component) is iteration-order
    * independent, so the DuckDB oracle computes it with a recursive-CTE
    * transitive closure.
    *
    * Graphs of at most `smallGraphMaxEdges` canonical edges over long ids
    * are labeled on the driver ([[smallGraphLabels]]). The rest run alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — a public algorithm,
    * re-expressed as DataFrame aggregations), whose round count is
    * O(log^2 n) regardless of diameter: a semi-dup chain ladder costs no
    * more rounds than a star. A graph that has not converged after
    * `maxRounds` rounds fails with an `IllegalArgumentException` naming
    * the cap — never returns partial labels.
    *
    * Each round is two rounds of (groupBy-min + self-join) over the edge
    * set, state O(|edges|); edges stay canonical (larger, smaller), so a
    * star fixpoint is literally (member, component-min) and convergence
    * is a tiny (count, hash-sum) aggregate per round, not an except-diff.
    * The driver-side loop with a `localCheckpoint` per round keeps the
    * plan size constant per round.
    *
    *  - large-star: every node attaches its LARGER neighbors to the
    *    minimum of its closed neighborhood — long tails fold toward the
    *    min in parallel;
    *  - small-star: every node re-points its smaller-or-equal closure at
    *    that minimum — stars flatten.
    *
    * @param docs  (doc_id) universe, including docs in no pair
    * @param pairs (doc_a, doc_b) undirected near-dup edges
    * @return (doc_id, cluster_id)
    */
  def clusters(
      docs: DataFrame,
      pairs: DataFrame,
      maxRounds: Int = 50,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    // canonical undirected edge set: (hi, lo), hi > lo, distinct
    // (count, sum-of-edge-hashes): equal across a round <=> the edge set
    // is the star fixpoint (both ops are idempotent exactly there). The
    // initial signature rides the initial checkpoint job as observed
    // metrics, like every round's does.
    def sigOf(or: Map[String, Any]): (Long, java.math.BigDecimal) =
      (or("n").asInstanceOf[Long],
        Option(or("h")).map(_.asInstanceOf[java.math.BigDecimal])
          .getOrElse(java.math.BigDecimal.ZERO))
    val obs0 = new org.apache.spark.sql.Observation()
    var edges = pairs.select(
        greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .observe(obs0, count(lit(1)).as("n"),
        sum(xxhash64(col("hi"), col("lo")).cast("decimal(38,0)")).as("h"))
      .localCheckpoint()

    var sig = sigOf(obs0.get)
    // Small-graph driver path: the canonical edge count already rode the
    // initial checkpoint as an observed metric, so the gate is free; the
    // canonical (hi, lo) form is null-free by construction (greatest/
    // least of a null pair collapses to hi = lo, filtered above). See
    // smallGraphLabels — identical min-id labels, no per-round actions.
    if (sig._1 > 0 && sig._1 <= smallGraphMaxEdges && longIds(edges, "hi", "lo")) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      return labelJoin(docs, smallGraphLabels(es, docs.sparkSession))
    }
    var round = 0
    var converged = sig._1 == 0
    while (!converged && round < maxRounds) {
      // ---- large-star: u's neighbors v > u attach to min(N(u) ∪ {u})
      val nbrs = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // no distinct here: duplicate (v, m) rows only fan the small-star
      // join out by the duplicate count (bounded by |edges|) and the
      // round-final distinct removes them — the dedup exchange of the full
      // edge set per round cost more than it saved
      val large = nbrs.join(mins, "u")
        .filter(col("v") > col("u")) // v > u >= m, so (v, m) stays canonical
        .select(col("v").as("hi"), col("m").as("lo"))
      // ---- small-star: u's smaller closure re-points at min(S(u) ∪ {u});
      // canonical edges already orient hi -> smaller lo
      val smins = large.groupBy(col("hi").as("u")).agg(min(col("lo")).as("m"))
      val joined = large.select(col("hi").as("u"), col("lo").as("v")).join(smins, "u")
      // smins IS the (u, m) branch as a set — reusing it instead of
      // re-projecting `joined` keeps per-large-row duplicates out of the
      // round-final distinct
      val next = smins.select(col("u").as("hi"), col("m").as("lo"))
        .union(joined.filter(col("v") =!= col("m"))
          .select(col("v").as("hi"), col("m").as("lo")))
        .distinct()
      // ONE action per round: the signature aggregates ride the
      // checkpoint job as observed metrics (CollectMetrics computes them
      // while the rows stream into the checkpoint) instead of a second
      // job re-reading the checkpointed data.
      val obs = new org.apache.spark.sql.Observation()
      val nextM = next
        .observe(obs, count(lit(1)).as("n"),
          sum(xxhash64(col("hi"), col("lo")).cast("decimal(38,0)")).as("h"))
        .localCheckpoint()
      val nextSig = sigOf(obs.get)
      // compareTo, not ==: BigDecimal.equals is scale-sensitive
      converged = nextSig._1 == sig._1 && nextSig._2.compareTo(sig._2) == 0
      sig = nextSig
      edges = nextM
      round += 1
    }
    require(converged, s"clusters did not converge in maxRounds = $maxRounds rounds " +
      "— raise maxRounds (star contraction needs O(log^2 n))")
    // star fixpoint: edges are exactly (member, component-min)
    val labels = edges.select(col("hi").as("doc_id"), col("lo").as("cluster_id"))
      .union(edges.select(col("lo").as("doc_id"), col("lo").as("cluster_id")).distinct())
    labelJoin(docs, labels)
  }

  /** Near-dup cluster REPRESENTATIVE selection by quality — the keep
    * policy upgrade over min-id: within each connected component
    * ([[clusters]]), keep the member with the highest [[TextAnalysis.qualityScore]]
    * (doc-id tiebreak), so dedup keeps the best copy of a duplicated
    * passage rather than the accidentally-lowest id (the policy FineWeb
    * and Dolma use when a cluster spans pages of differing quality).
    *
    * Shape: the LSH/cluster machinery is L2+L14 unchanged; quality is a
    * zero-shuffle projection; the argmax is ONE window over the 8-byte
    * cluster key (cluster sizes are the duplicate minority — bounded).
    * Quality scores are engine-identical doubles (q_quality_score's
    * pinned formula), and the (score desc, doc_id asc) order is total,
    * so `is_rep` is exactly mirrorable.
    *
    * Returns (doc_id, cluster_id, quality_score, is_rep) — every input
    * doc appears; singletons are their own representative. */
  def clusterRepresentatives(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = clusters(
      docs.select(col(idCol).as("doc_id")),
      minhashPairs(docs, idCol, textCol, minJaccard = minJaccard))
    val q = TextAnalysis.qualityScore(docs, idCol, textCol)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    cl.join(q, Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        (row_number().over(w) === 1).as("is_rep"))
  }

  /** Cross-document duplicated-span signal (the span-granular counterpart
    * of whole-document near-dup): for each document, how much of it is made
    * of word n-grams that also occur in at least one OTHER document, and in
    * how many contiguous runs. This is the per-document aggregate of
    * exact-substring dedup ("dedup by duplicated spans of >= n tokens"):
    * a high `dup_fraction` with few long spans marks boilerplate /
    * copied passages that whole-document MinHash misses.
    *
    * Dataflow (designed for a corpus-sized input):
    *  1. positional n-gram hashes, exploded → (doc_id, pos, gram) — O(tokens)
    *     rows, 8-byte gram keys ([[TextHash.posNgramHashes]]);
    *  2. gram document frequency: distinct (doc_id, gram) → count per gram
    *     (two map-side-combining aggregations, never a collect);
    *  3. positions re-join their gram's frequency (shuffle on the 8-byte
    *     gram hash; a boilerplate gram is a hot join key — AQE skew-join
    *     splits it, and the output stays O(tokens) because each position
    *     matches exactly one frequency row);
    *  4. per-document span merge: ONE window partitioned by doc_id (running
    *     duplicated-position count; `pos - running` is constant exactly on a
    *     contiguous duplicated run), and both downstream aggregations group
    *     on supersets of doc_id, so they reuse the window's partitioning —
    *     no further exchange.
    *
    * Returns one row per input document (docs shorter than n tokens get
    * zeros): (doc_id, n_grams, dup_grams, n_spans, max_span, dup_fraction)
    * where n_spans counts maximal contiguous duplicated runs and
    * dup_fraction = dup_grams / n_grams (0.0 when n_grams = 0).
    *
    * Contract: `idCol` must be unique (duplicate ids would merge their
    * position sequences into one island computation); a NULL `textCol`
    * contributes zero grams and surfaces as an all-zeros row.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialized once: the positional-gram relation feeds both the
    // frequency aggregation and the frequency join's probe side, and
    // hashing the corpus is the operator's dominant CPU stage (same
    // rationale as lshVerifiedPairs' sh checkpoint)
    val grams = docs
      .select(col(idCol).as("doc_id"),
        posexplode(HashFunctions.posNgramHashes(col(textCol), n)).as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("gram"))
      .localCheckpoint()
    val dfreq = grams.select(col("gram"), col("doc_id")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("gram_docs"))
    val marked = grams.join(dfreq, Seq("gram"))
      .select(col("doc_id"), col("pos"), (col("gram_docs") >= 2).as("is_dup"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = marked
      .withColumn("run_key",
        when(col("is_dup"), col("pos") - sum(when(col("is_dup"), 1L).otherwise(0L)).over(byDoc)))
    val runLens = runs
      .groupBy(col("doc_id"), col("is_dup"), col("run_key"))
      .agg(count(lit(1)).as("run_len"))
    val perDoc = runLens
      .groupBy(col("doc_id"))
      .agg(
        sum(col("run_len")).as("n_grams"),
        sum(when(col("is_dup"), col("run_len")).otherwise(0L)).as("dup_grams"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_spans"),
        max(when(col("is_dup"), col("run_len")).otherwise(0L)).as("max_span"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("dup_grams").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("dup_fraction"))
  }

  /** Cross-document duplicated-span REMOVAL — the actionable form of
    * [[dupSpans]] (C4/Lee-style hard span dedup): rebuilds each document's
    * text with every token covered by a cross-document duplicated n-gram
    * removed. ALL occurrences are removed (the deterministic, order-free
    * policy — keeping exactly one copy would make the output depend on a
    * global document order); whitespace is canonicalized to single spaces
    * by the rebuild. Dataflow = [[dupSpans]]' gram-frequency join plus a
    * bounded explode (factor n) of the duplicated positions into a token
    * drop set, an anti-join on (doc, token index), and one ordered
    * rebuild aggregation (`collect_list` → ObjectHashAggregate, sorted
    * per group post-hoc — never a SortAggregate).
    *
    * Returns (doc_id, n_tokens, kept_tokens, text_clean); a fully
    * duplicated document keeps 0 tokens and an empty string. Same
    * unique-id contract as [[dupSpans]].
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(wordTokens(col(textCol))).as(Seq("tok0", "token")))
      .select(col("doc_id"), (col("tok0") + 1).as("tok_idx"), col("token"))
    // materialized once (feeds dfreq and the drop-set join) — see dupSpans
    val grams = docs
      .select(col(idCol).as("doc_id"),
        posexplode(HashFunctions.posNgramHashes(col(textCol), n)).as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("gram"))
      .localCheckpoint()
    val dfreq = grams.select(col("gram"), col("doc_id")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("gram_docs"))
    // materialized: feeds the anti-join AND the dropped-count arithmetic
    val dropSet = grams
      .join(dfreq.filter(col("gram_docs") >= 2), Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tok_idx"))
      .distinct()
      .localCheckpoint()
    // every token is either kept or dropped (and every non-NULL doc has
    // >= 1 token: split of "" is [""]), so n_tokens = kept + dropped — no
    // third scan of the corpus text for a separate count projection. The
    // output universe is the DOCS table, not the token table: a NULL-text
    // doc has no token rows at all and must still surface (n_tokens NULL,
    // nothing kept — exactly the oracle's LEFT JOIN semantics) rather
    // than silently vanish from the verdict.
    rebuildWithoutSpans(docs, idCol, textCol, toks, dropSet)
  }

  /** Shared tail of span REMOVAL operators ([[removeDupSpans]],
    * [[Contamination.removeOverlap]]): anti-join the token table against
    * a `(doc_id, tok_idx)` drop set and rebuild each doc's text from the
    * survivors. NULL-text docs surface with `n_tokens` NULL (nothing to
    * rebuild), never vanish. Returns (doc_id, n_tokens, kept_tokens,
    * text_clean). */
  private[llm] def rebuildWithoutSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      toks: DataFrame,
      dropSet: DataFrame): DataFrame = {
    val rebuilt = toks
      .join(dropSet, Seq("doc_id", "tok_idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("kept_tokens"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("tok_idx"), col("token")))),
            x => x.getField("token"))).as("text_clean"))
    val dropped = dropSet.groupBy(col("doc_id")).agg(count(lit(1)).as("dropped_tokens"))
    docs
      .select(col(idCol).as("doc_id"), col(textCol).isNull.as("__null_text"))
      .join(rebuilt, Seq("doc_id"), "left")
      .join(dropped, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("__null_text"), lit(null).cast("long"))
          .otherwise(
            coalesce(col("kept_tokens"), lit(0L)) + coalesce(col("dropped_tokens"), lit(0L)))
          .as("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Incremental MinHash near-dup: near-duplicate pairs between a NEW batch
    * and the HISTORICAL corpus — the daily-ingest shape of [[minhashPairs]]
    * (whose exact-hash counterpart is [[incremental]]). The history side is
    * never pair-expanded against itself: candidates come from a BIPARTITE
    * equi-join of the two sides' band digests, so per-batch cost is
    * O(new-batch bands) joined against the (persistable) historical band
    * posting table, not a re-dedup of the whole corpus. Buckets whose
    * combined membership exceeds `maxBucket` are dropped, exactly like the
    * batch operator (a band that hot is a degenerate duplicate cluster that
    * exact dedup collapses). Verification is the same two-stage screen
    * (signature agreement, then exact Jaccard on the hashed shingle sets).
    *
    * On a corpus split into (new, history), the result equals
    * `minhashPairs(new ++ history)` restricted to cross-side pairs —
    * pinned by spec. Returns (new_id, hist_id, jaccard).
    *
    * Contract: ids must be unique within each side (shared across sides is
    * fine — the output keys are side-qualified); a NULL text yields no
    * band rows, so the document simply cannot pair. Both sides are
    * materialized (localCheckpoint) at construction, like the batch
    * operator.
    */
  def minhashIncrementalPairs(
      newDocs: DataFrame,
      histDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      perms: Int = 64,
      nBands: Int = 16,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5,
      maxBucket: Int = MaxBucket,
      estSlack: Double = 0.15): DataFrame = {
    require(nBands * rowsPerBand == perms, "perms must equal nBands * rowsPerBand")
    minhashIncrementalPairsFromSignatures(
      signatureTable(newDocs, idCol, textCol, shingleK, perms)
        .withColumnRenamed("doc_id", "new_id").localCheckpoint(),
      signatureTable(histDocs, idCol, textCol, shingleK, perms)
        .withColumnRenamed("doc_id", "hist_id").localCheckpoint(),
      nBands, rowsPerBand, minJaccard, maxBucket, estSlack)
  }

  /** The (doc_id, hs, sig) relation of a corpus — the persistable signature
    * store the incremental operators join against (32 B/band + ~8 B/shingle
    * per doc; the corpus text never needs to be re-read). */
  def signatureTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      perms: Int = 64): DataFrame = docs
    .select(col(idCol).as("doc_id"), HashFunctions.shingleHashes(col(textCol), shingleK).as("hs"))
    .withColumn("sig", HashFunctions.minhashSignature(col("hs"), perms))

  /** Signature-level core of [[minhashIncrementalPairs]]: both sides given
    * as precomputed signature tables — `shNew` with (new_id, hs, sig),
    * `shHist` with (hist_id, hs, sig) (see [[signatureTable]]) — so a
    * persisted history store joins directly with no text re-hash. Each
    * side should be materialized by the caller (it feeds banding,
    * screening, and verification; the text form localCheckpoints both). */
  def minhashIncrementalPairsFromSignatures(
      shNew: DataFrame,
      shHist: DataFrame,
      nBands: Int = 16,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5,
      maxBucket: Int = MaxBucket,
      estSlack: Double = 0.15): DataFrame = {
    val bNew = bandPostings(shNew, "new_id", nBands, rowsPerBand)
    val bHist = bandPostings(shHist, "hist_id", nBands, rowsPerBand)
    // combined-membership bucket cap (identical to minhashPairs' semantics:
    // the bucket is the union of both sides; a 1-member bucket cannot pair,
    // so no lower bound is needed)
    val okKeys = bNew.select(col("band"), col("band_hash"))
      .unionByName(bHist.select(col("band"), col("band_hash")))
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("band_hash"))
    val cand = bNew
      .join(okKeys, Seq("band", "band_hash"), "left_semi")
      .join(bHist, Seq("band", "band_hash"))
      .select(col("new_id"), col("hist_id"))
      .distinct() // a pair may collide in several bands; verify once
    minhashVerifyCandidates(cand, shNew, shHist,
      nBands * rowsPerBand, minJaccard, estSlack)
  }

  /** Banded postings of a [[signatureTable]]: one row per (id, band) with
    * that band's digest — the LSH candidate-join key, and the unit the
    * bucketed streaming store ([[graft.streaming.CorpusStream]]
    * `nearDupGateBucketedBatch`) hive-partitions by so a drop's join
    * reads only the buckets its own digests touch. */
  def bandPostings(sh: DataFrame, idCol: String, nBands: Int, rowsPerBand: Int): DataFrame =
    sh.select(col(idCol), explode(bandDigests(col("sig"), nBands, rowsPerBand)).as("bd"))
      .select(col(idCol), col("bd.band").as("band"), col("bd.band_hash").as("band_hash"))

  /** Screen-and-verify tail shared by the signature-level incremental
    * joins: candidate (new_id, hist_id) pairs → signature-agreement
    * screen (cheap, fixed-width) → exact shingle jaccard ≥ `minJaccard`.
    * `shNew`/`shHist` need (id, hs, sig); only CANDIDATE rows are
    * touched, so a caller with a partitioned store can hand a
    * partition-pruned history frame here. */
  def minhashVerifyCandidates(
      cand: DataFrame,
      shNew: DataFrame,
      shHist: DataFrame,
      perms: Int,
      minJaccard: Double,
      estSlack: Double = 0.15): DataFrame = {
    val minAgree = math.ceil((minJaccard - estSlack) * perms).toInt
    // two-stage kept: see lshVerifiedPairs — the fused single-join-pair
    // form measured ~35% slower intra-session (OPTIMIZATION_r21.md)
    val screened = cand
      .join(shNew.select(col("new_id"), col("sig").as("sig_a")), Seq("new_id"))
      .join(shHist.select(col("hist_id"), col("sig").as("sig_b")), Seq("hist_id"))
      .filter(HashFunctions.sigAgreement(col("sig_a"), col("sig_b")) >= minAgree)
      .select(col("new_id"), col("hist_id"))
    screened
      .join(shNew.select(col("new_id"), col("hs").as("hs_a")), Seq("new_id"))
      .join(shHist.select(col("hist_id"), col("hs").as("hs_b")), Seq("hist_id"))
      .select(col("new_id"), col("hist_id"),
        HashFunctions.jaccardLong(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Per-document SimHash fingerprint: (doc_id, simhash). */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String, bits: Int = 24): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      HashFunctions.simhash(col(textCol), bits).as("simhash"))

  /** SimHash near-duplicate pairs: candidates share at least one `bandBits`
    * sub-band, verified with exact hamming distance — computed during pair
    * expansion (the fingerprint rides along in the bucket), so the
    * fingerprints are never recomputed or re-joined.
    * Returns (doc_a, doc_b, hamming). */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 24,
      bandBits: Int = 6,
      maxHamming: Int = 2,
      maxBucket: Int = 256): DataFrame = {
    val nBands = bits / bandBits
    val banded = simhashFingerprints(docs, idCol, textCol, bits).select(
      col("doc_id"),
      col("simhash"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), bandBits * b)
            .bitwiseAND(lit((1L << bandBits) - 1)).as("band_val"))): _*)).as("bv"))
      .select(col("doc_id"), col("simhash"), col("bv.band").as("band"), col("bv.band_val").as("band_val"))
    val buckets = banded
      .groupBy(col("band"), col("band_val"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ids"))
    bucketPairs(buckets, maxBucket, (x, y) =>
      struct(
        x.getField("doc_id").as("doc_a"),
        y.getField("doc_id").as("doc_b"),
        bit_count(x.getField("simhash").bitwiseXOR(y.getField("simhash"))).cast("int").as("hamming")))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"), col("p.hamming").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SemDeDup — semantic near-duplicate removal over an embedding column
    * (Abbas et al. 2023, arXiv:2303.09540): k-means partitions the corpus
    * into semantic cells, and ONLY within a cell are pairwise cosines
    * computed; a document is dropped when a smaller-id cell-mate sits at
    * or above `tau`. Output: (vec_id, cluster, dup_of, keep) — one row
    * per input, `dup_of` = the smallest matching cell-mate id (NULL when
    * kept).
    *
    * Scale shape — the whole point of the construction is that the
    * quadratic work is CELL-BOUNDED: at 100 TB you size k ≈ corpus/10³ so
    * the pairwise term is ~10⁶ per cell, never corpus². One aggregation
    * collects each cell's (id, vector) members — each vector crosses the
    * exchange exactly ONCE (O(m·dim) bytes per cell) — and the quadratic
    * cosine scan runs as a compiled in-row kernel
    * ([[graft.functions.GraftVecOps.semDup]]) that returns only the
    * removed (id, dup_of) pairs. Cells above `cellCap` are dropped from
    * the scan — a cell that large means k is mis-sized, and its members
    * are all KEPT (the conservative failure mode, same posture as
    * [[MaxBucket]]). The clustering itself is the zero-shuffle-assignment
    * Lloyd of [[Clustering.kmeansAssigned]] for every id type. Only the
    * in-cell scan depends on it: non-long ids take the LSH-bucket
    * pair-expansion fallback (nested-transform pairs + two
    * vector-recovery joins — value-identical, but it ships both vectors
    * per CANDIDATE pair, O(m²·dim) exchange bytes; measured 157 s vs ~4 s
    * for the kernel path on C1's 200k vectors).
    *
    * Contracts: ids unique/non-null ([[Clustering]]'s contract); NULL
    * vectors (NULL cluster) and zero-norm vectors are never compared —
    * cosine is undefined for them — and are always kept. Dot/norm follow
    * [[Similarity]]'s sequential-fold arithmetic, so the operator is
    * exactly oracle-checkable. */
  def semantic(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 2,
      tau: Double = 0.3,
      cellCap: Int = 10000): DataFrame = {
    // reused twice (cell members, final output) — same materialize-once
    // discipline as the MinHash signature checkpoint
    val assigned = Clustering
      .kmeansAssigned(embeddings, idCol, vecCol, k, iters)
      .select(col("vec_id"), col("v"), col("cluster"))
      .localCheckpoint()
    val idIsLong =
      assigned.schema("vec_id").dataType == org.apache.spark.sql.types.LongType
    val removed =
      if (idIsLong) {
        // compiled cell-local scan: each member's vector ships ONCE into
        // its cell row (O(m·dim) per cell), the quadratic cosine scan
        // runs as a tight in-row loop, and only the removed (id, dup_of)
        // pairs come back. The pair-join spelling below ships BOTH
        // vectors per candidate pair — O(m²·dim) exchange bytes, 39 GB /
        // 157 s on C1's 200k vectors vs ~4 s for this path (BASELINE.md).
        // sort_array on (vec_id, v) structs orders by the unique id, so
        // the kernel's first-match = min dup_of exactly.
        assigned
          .filter(col("cluster").isNotNull)
          .groupBy(col("cluster"))
          .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("members"))
          .filter(size(col("members")).between(2, cellCap))
          .select(explode(HashFunctions.semDupPairs(
            col("members.vec_id"), col("members.v"), tau)).as("p"))
          .select(col("p.vec_id").as("vec_id"), col("p.dup_of").as("dup_of"))
      } else {
        // generic-id fallback: in-cell pair expansion (the LSH bucket
        // skeleton) + vector recovery joins; value-identical, pinned by
        // DedupSpec's path-equivalence test
        val sides = assigned
          .select(col("vec_id"), col("v"),
            sqrt(HashFunctions.dot(col("v"), col("v"))).as("norm"))
          .filter(col("norm") > 0)
        val cells = assigned
          .filter(col("cluster").isNotNull)
          .groupBy(col("cluster"))
          .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
        val pairs = bucketPairs(cells, cellCap, (x, y) =>
          struct(x.as("vec_a"), y.as("vec_b")))
          .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
        pairs
          .join(sides.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na")),
            Seq("vec_a"))
          .join(sides.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb")),
            Seq("vec_b"))
          .filter(HashFunctions.dot(col("va"), col("vb")) / (col("na") * col("nb")) >= tau)
          .groupBy(col("vec_b").as("vec_id"))
          .agg(min(col("vec_a")).as("dup_of"))
      }
    assigned.select(col("vec_id"), col("cluster"))
      .join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }
}
