package graft.streaming

import graft.llm.{Curation, Dedup}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Streaming corpus ingestion: continuous exact dedup over a document
  * file stream — the incremental form of [[graft.llm.Dedup.exact]] for a
  * corpus that arrives folder-by-folder (crawl drops, snapshot deltas).
  *
  * State = one row per distinct `md5(text)` in the state store, sharded by
  * the dedup key's shuffle partitioning. Unbounded by default (exact dedup
  * has no expiry semantics); pass `withinWatermark` + an event-time column
  * to bound state when near-in-time duplicates are the only concern
  * (`dropDuplicatesWithinWatermark`, the standard state-bounding knob).
  */
object CorpusStream {

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocuments(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(documentsSchema).parquet(path)

  /** Micro-batch crawl ingestion: WARC segments landing under a drop
    * directory/glob become batches of records
    * ([[graft.sources.WarcSource]] — exactly-once file accounting via a
    * compacted side-log, identical decode and pushdown as the batch
    * scan). The upstream end of the crawl pipeline: compose with
    * `graft.functions.GraftHtmlOps.htmlTextCol` and the curation gates. */
  def readWarc(
      spark: SparkSession,
      pathGlob: String,
      maxFilesPerTrigger: Int = 0,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .format(classOf[graft.sources.WarcSource].getName)
      .options(options)
      .option("path", pathGlob)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load()

  /** Every gate sink below: an AvailableNow drain of `docs` under
    * `checkpointDir`, each micro-batch handed to `batch` with its id. */
  private def gateSink(docs: DataFrame, checkpointDir: String)(
      batch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(batch)

  /** First-seen wins: emits each distinct text's first arriving row. */
  def streamingExactDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("text_md5", md5(col("text")))
      .dropDuplicates("text_md5")

  /** Bounded-state variant: duplicates are dropped only while the key is
    * inside the watermark horizon of `eventTimeCol`; once the watermark
    * passes a key's event time its state is evicted, so total state is
    * O(docs per watermark window) instead of O(all-time distinct docs) —
    * the right trade when near-in-time duplicates (re-crawls, retried
    * drops) are the concern and historical dedup is left to the batch
    * [[graft.llm.Dedup.incremental]] pass. */
  def streamingDedupWithinWatermark(
      docs: DataFrame,
      eventTimeCol: String,
      delay: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_md5", md5(col("text")))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming NEAR-duplicate gate — the MinHash counterpart of
    * [[streamingExactDedup]], for a corpus arriving drop-by-drop. Each
    * micro-batch is (1) clustered against itself with the batch MinHash
    * operator and collapsed to one representative (minimum id) per
    * near-dup cluster, then (2) checked against the persisted signature
    * store of everything previously kept via the BIPARTITE incremental
    * join ([[graft.llm.Dedup.minhashIncrementalPairsFromSignatures]] —
    * history is never re-hashed or pair-expanded against itself).
    * Survivors append to `corpusPath`; their `(doc_id, hs, sig)` rows
    * append to `storePath` so the next batch sees them as history. A doc
    * whose in-batch representative is rejected by history is dropped too
    * (transitive near-dup semantics, as in batch curation).
    *
    * Exactly-once without swap machinery: both sinks write hive-style
    * `batch=<id>/` directories with per-directory overwrite, and the
    * history read EXCLUDES the current batch id — a crash-replayed batch
    * overwrites its own partial output and recomputes against the same
    * history, landing on identical results (spec-pinned).
    *
    * Scale posture: per trigger the store is one O(history signatures)
    * scan re-banded into the join — signatures are ~0.5 KB/doc, 100–1000×
    * smaller than the corpus, and parquet column pruning plus Spark's
    * runtime join filtering keep the bytes actually read well below the
    * store's footprint (measured in GateSoak). The irreducible cost is
    * the banding scan: the full `sig` column of ALL history, every
    * trigger. When that dominates (≳10⁹ kept docs), switch to
    * [[nearDupGateBucketedSink]], whose precomputed postings + bucketed
    * stores bound per-trigger reads by touched buckets and candidates;
    * this single-store form is the right trade below that.
    *
    * Contract: `doc_id` must be globally unique across the stream's
    * lifetime (it keys the store). */
  def nearDupGateSink(
      docs: DataFrame,
      corpusPath: String,
      storePath: String,
      checkpointDir: String,
      shingleK: Int = 5,
      perms: Int = 64,
      nBands: Int = 16,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5): DataStreamWriter[Row] =
    gateSink(docs, checkpointDir) { (batch, batchId) =>
      nearDupGateBatch(batch, batchId, corpusPath, storePath,
        shingleK, perms, nBands, rowsPerBand, minJaccard)
    }

  /** One micro-batch of [[nearDupGateSink]], callable directly (the spec
    * drives it batch-by-batch; the sink wires it to foreachBatch). */
  def nearDupGateBatch(
      batch: DataFrame,
      batchId: Long,
      corpusPath: String,
      storePath: String,
      shingleK: Int,
      perms: Int,
      nBands: Int,
      rowsPerBand: Int,
      minJaccard: Double): Unit = {
    val spark = batch.sparkSession
    val b = batch.localCheckpoint() // feeds pairing, clustering, and both sinks
    val shBatch = repSignatures(b, shingleK, perms, nBands, rowsPerBand, minJaccard)
    // (2) vs history: signature store of previously KEPT docs, excluding
    // any partial output of a crash-replayed run of THIS batch id
    val fs = new Path(storePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val histDupIds =
      if (fs.exists(new Path(storePath))) {
        val hist = spark.read.parquet(storePath)
          .filter(col("batch") =!= batchId)
          .select(col("doc_id").as("hist_id"), col("hs"), col("sig"))
        Dedup.minhashIncrementalPairsFromSignatures(
          shBatch.withColumnRenamed("doc_id", "new_id"), hist,
          nBands, rowsPerBand, minJaccard)
          .select(col("new_id").as("doc_id")).distinct()
      } else shBatch.select(col("doc_id")).limit(0)
    val keptIds = shBatch.select(col("doc_id"))
      .join(histDupIds, Seq("doc_id"), "left_anti")
      .localCheckpoint() // feeds both sink writes below
    // idempotent per-batch landing: overwrite exactly this batch's dir
    b.join(keptIds, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$corpusPath/batch=$batchId")
    shBatch.join(keptIds, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
  }

  /** (1) of the near-dup gates: the batch's near-dup clusters collapsed
    * to their minimum-id representative, as `(doc_id, hs, sig)`. */
  private def repSignatures(b: DataFrame, shingleK: Int, perms: Int, nBands: Int,
      rowsPerBand: Int, minJaccard: Double): DataFrame = {
    val reps = Dedup.clusters(b.select(col("doc_id")), Dedup.minhashPairs(b, "doc_id",
        "text", shingleK, perms, nBands, rowsPerBand, minJaccard))
      .filter(col("cluster_id") === col("doc_id"))
      .select(col("doc_id"))
    Dedup.signatureTable(b.join(reps, Seq("doc_id"), "left_semi"), "doc_id", "text",
      shingleK, perms).localCheckpoint()
  }

  /** Kept documents of a corpus maintained by [[nearDupGateSink]] (the
    * hive `batch` partition column is internal bookkeeping — dropped). */
  def readKept(spark: SparkSession, corpusPath: String): DataFrame =
    spark.read.parquet(corpusPath).drop("batch")

  /** Partition column of the bucketed postings store:
    * `pmod(hash(band, band_hash), postingsBuckets)`. */
  val PostingsBucketCol = "bucket"

  /** Partition column of the bucketed signature store:
    * `pmod(hash(doc_id), sigBuckets)`. */
  val SigBucketCol = "sbucket"

  /** PRUNED-STORE near-dup gate — [[nearDupGateSink]] for corpora whose
    * signature history outgrows a per-trigger full scan (the single-store
    * form reads the whole `(doc_id, hs, sig)` history every micro-batch:
    * ~429 B/doc measured, ≈400 GB/trigger at 10⁹ kept docs). The history
    * lives in TWO hive-bucketed stores so a trigger's I/O scales with the
    * DROP, not the history:
    *
    *  - `postingsPath` — `batch=<id>/bucket=<b>/` with narrow rows
    *    `(hist_id, band, band_hash)`, bucketed by
    *    `pmod(hash(band, band_hash), postingsBuckets)`. A batch reads
    *    ONLY the buckets its own band digests touch (partition pruning;
    *    collected driver-side, bounded by `postingsBuckets`).
    *  - `storePath` — `batch=<id>/sbucket=<s>/` with the full
    *    `(doc_id, hs, sig)` rows, bucketed by `pmod(hash(doc_id),
    *    sigBuckets)`. Read ONLY for the sbuckets holding CANDIDATE
    *    hist ids (the capped postings join's output) — the heavy `hs`
    *    shingle arrays never leave disk for non-candidate history.
    *
    * Same exactly-once discipline as [[nearDupGateBatch]]: both stores
    * land under per-batch directories, history reads exclude the current
    * batch id, and a crash-replayed batch overwrites its own output and
    * recomputes against identical history. Gate DECISIONS are identical
    * to the single-store form (spec-pinned): the bucket layout changes
    * where rows live, not which pairs are candidates.
    *
    * `postingsBuckets`/`sigBuckets` must stay constant for the life of a
    * store (they define row→directory placement). Size them so one
    * bucket ≈ one HDFS block at the target corpus; the defaults suit the
    * soak harness. */
  def nearDupGateBucketedSink(
      docs: DataFrame,
      corpusPath: String,
      postingsPath: String,
      storePath: String,
      checkpointDir: String,
      shingleK: Int = 5,
      perms: Int = 64,
      nBands: Int = 16,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5,
      postingsBuckets: Int = 64,
      sigBuckets: Int = 64,
      compactEvery: Int = 8): DataStreamWriter[Row] =
    gateSink(docs, checkpointDir) { (batch, batchId) =>
      nearDupGateBucketedBatch(batch, batchId, corpusPath, postingsPath,
        storePath, shingleK, perms, nBands, rowsPerBand, minJaccard,
        postingsBuckets, sigBuckets, compactEvery)
    }

  /** Fold finalized per-batch directories of a bucketed store into the
    * `batch=-1` base partition — one file per bucket — so the store's
    * file count stays O(buckets + compactEvery), not O(buckets ×
    * stream lifetime). Only batches strictly below `uptoExclusive` are
    * folded (the current batch's replay discipline must keep seeing its
    * own id excluded, and a batch folded into base BEFORE its checkpoint
    * committed would poison its own replay).
    *
    * Crash-safe by ROLL-FORWARD, not decision-neutral duplication: the
    * domain-cap store SUMS `n_admitted` across rows, so a fold that
    * double-counts a delta (folded into base AND left on disk) or loses
    * one (deleted without its fold surviving) would permanently skew the
    * cap — unlike the near-dup stores, whose `.distinct()` consumers
    * forgive duplicates. The protocol: (1) write the folded store to
    * `.compact_staging`; (2) commit it by writing an `_UPTO` manifest
    * holding `uptoExclusive` (strictly after the parquet `_SUCCESS`);
    * (3) delete the folded batch dirs and the old base, each delete
    * verified; (4) rename staging → base. A crash before (2) discards
    * the staging (all inputs still on disk — recompute); a crash after
    * (2) rolls FORWARD on the next call: the manifest says exactly which
    * batch dirs the committed fold already covers, so recovery finishes
    * steps (3)–(4) idempotently instead of guessing from what survived. */
  /** TTL (`ttlBatches` > 0): the fold RETAINS each row's admission batch
    * as an `origin_batch` column and drops rows older than
    * `uptoExclusive - ttlBatches` — the retention contract the stores
    * need for unbounded stream lifetimes (they otherwise grow
    * ~0.5 KB/doc forever). Semantics, chosen for the never-un-reject
    * property: a history row gates every drop while its admission is
    * WITHIN the horizon (rows are only dropped once
    * `currentBatch - origin > ttl`, and between compactions expired rows
    * still gate — expiry takes effect at the next compaction boundary,
    * i.e. the conservative direction: late expiry, never early).
    * Rejected duplicates do NOT renew their original's age. Aggregating
    * `fold` callbacks must group by `origin_batch` (age is part of the
    * key under TTL); rows from a pre-TTL base without the column are
    * treated as admitted at `uptoExclusive - 1` (again conservative:
    * unknown age gates a full horizon before aging out). */
  private[streaming] def compactBucketedStore(
      spark: SparkSession, path: String, bucketCol: String,
      uptoExclusive: Long,
      fold: DataFrame => DataFrame = identity,
      ttlBatches: Long = 0): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val staging = new Path(root, ".compact_staging")
    val base = new Path(root, "batch=-1")
    val manifest = new Path(staging, "_UPTO")
    def deleteChecked(p: Path, what: String): Unit = {
      // delete() returns false both on failure and on already-absent;
      // only absence is acceptable — a surviving dir would double-count.
      if (!fs.delete(p, true) && fs.exists(p))
        throw new IllegalStateException(
          s"compactBucketedStore: could not delete $what $p at $path")
    }
    def finalizedDirs(upto: Long): Array[Path] = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath)
      .filter { p =>
        val v = p.getName.stripPrefix("batch=").toLong
        v >= 0 && v < upto
      }
    def swapIn(upto: Long): Unit = {
      finalizedDirs(upto).foreach(deleteChecked(_, "folded batch dir"))
      deleteChecked(base, "old base")
      // the _UPTO manifest rides along into base (underscore-prefixed
      // files are invisible to parquet reads); deleting it BEFORE the
      // rename would reopen the crash window it exists to close.
      require(fs.rename(staging, base),
        s"compactBucketedStore: could not move staging into place at $path")
    }
    if (fs.exists(staging)) {
      if (fs.exists(manifest)) {
        // committed fold from a crashed run: roll forward using ITS upto
        // (not ours — the fold only covers what it saw), then continue
        // below to fold anything that has accumulated since.
        val in = fs.open(manifest)
        val recoveredUpto =
          try new java.io.DataInputStream(in).readLong() finally in.close()
        swapIn(recoveredUpto)
      } else deleteChecked(staging, "uncommitted staging")
    }
    if (finalizedDirs(uptoExclusive).isEmpty) return
    val all = spark.read.option("mergeSchema", "true").parquet(path)
      .filter(col("batch") < uptoExclusive) // base (-1) + finalized batches
    val folded =
      if (ttlBatches <= 0) all.drop("batch")
      else {
        val origin =
          if (all.columns.contains("origin_batch"))
            when(col("batch") >= 0, col("batch"))
              .otherwise(coalesce(col("origin_batch"), lit(uptoExclusive - 1)))
          else when(col("batch") >= 0, col("batch"))
            .otherwise(lit(uptoExclusive - 1)) // pre-TTL base: unknown age
        all.withColumn("origin_batch", origin)
          .filter(col("origin_batch") > uptoExclusive - 1 - ttlBatches)
          .drop("batch")
      }
    fold(folded)
      .repartition(col(bucketCol))
      .sortWithinPartitions(
        if (bucketCol == PostingsBucketCol) col("band_hash")
        else if (bucketCol == DomainBucketCol) col("domain")
        else if (bucketCol == DigestBucketCol) col("text_md5")
        else col("doc_id"))
      .write.partitionBy(bucketCol)
      .mode("overwrite").parquet(staging.toString)
    // a TTL fold can expire EVERY row: an empty parquet write emits no
    // data files (no schema footer), so a swapped-in empty base would
    // break the next schema-inferring read. An empty store is therefore
    // represented as NO store — readers already handle absence — and the
    // deletes below are idempotent (a crash mid-way loses only rows the
    // fold had already decided were expired).
    val hasData = fs.listStatus(staging).exists(_.isDirectory)
    if (!hasData) {
      finalizedDirs(uptoExclusive).foreach(deleteChecked(_, "expired batch dir"))
      deleteChecked(base, "expired base")
      deleteChecked(staging, "empty staging")
      if (fs.listStatus(root).isEmpty) deleteChecked(root, "empty store root")
      return
    }
    val out = fs.create(manifest, true) // commit point: fold is durable
    try new java.io.DataOutputStream(out).writeLong(uptoExclusive)
    finally out.close()
    swapIn(uptoExclusive)
  }

  /** One micro-batch of [[nearDupGateBucketedSink]], callable directly.
    * `compactEvery` > 0 folds finalized batch directories into the
    * `batch=-1` base every that-many batches (see
    * [[compactBucketedStore]]); 0 disables. */
  def nearDupGateBucketedBatch(
      batch: DataFrame,
      batchId: Long,
      corpusPath: String,
      postingsPath: String,
      storePath: String,
      shingleK: Int = 5,
      perms: Int = 64,
      nBands: Int = 16,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5,
      postingsBuckets: Int = 64,
      sigBuckets: Int = 64,
      compactEvery: Int = 8,
      ttlBatches: Long = 0): Unit = {
    val spark = batch.sparkSession
    if (compactsAt(batchId, compactEvery))
      compactNearDupStores(spark, postingsPath, storePath, batchId, ttlBatches)
    val b = batch.localCheckpoint()
    val shBatch = repSignatures(b, shingleK, perms, nBands, rowsPerBand, minJaccard)
    val histDupIds = bucketedHistDupIds(spark, shBatch, batchId,
      postingsPath, storePath, nBands, rowsPerBand, minJaccard,
      postingsBuckets, sigBuckets)
    val keptIds = shBatch.select(col("doc_id"))
      .join(histDupIds, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // idempotent per-batch landing; one file per touched bucket
    b.join(keptIds, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$corpusPath/batch=$batchId")
    landSignatures(shBatch.join(keptIds, Seq("doc_id"), "left_semi"), batchId,
      storePath, postingsPath, nBands, rowsPerBand, postingsBuckets, sigBuckets)
  }

  /** Every `compactEvery`-th batch after the first compacts; 0 never. */
  private def compactsAt(batchId: Long, compactEvery: Int): Boolean =
    compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0

  /** A [[compactBucketedStore]] fold: `agg` per (bucket, key[, origin
    * under TTL, where age is part of the key]). */
  private def foldPer(bucketCol: String, key: String, agg: Column,
      ttlBatches: Long): DataFrame => DataFrame =
    df => df.groupBy((col(bucketCol) +: col(key) +:
        (if (ttlBatches > 0) Seq(col("origin_batch")) else Nil)): _*)
      .agg(agg)

  /** Compacts both (duplicate-tolerant) stores of a bucketed near-dup gate. */
  private def compactNearDupStores(spark: SparkSession, postingsPath: String,
      sigStorePath: String, batchId: Long, ttlBatches: Long): Unit = {
    compactBucketedStore(spark, postingsPath, PostingsBucketCol, batchId,
      ttlBatches = ttlBatches)
    compactBucketedStore(spark, sigStorePath, SigBucketCol, batchId,
      ttlBatches = ttlBatches)
  }

  /** Lands kept signatures `(doc_id, hs, sig)` as this batch's deltas of
    * the bucketed signature and postings stores, one file per bucket. */
  private def landSignatures(sh: DataFrame, batchId: Long, sigStorePath: String,
      postingsPath: String, nBands: Int, rowsPerBand: Int, postingsBuckets: Int,
      sigBuckets: Int): Unit = {
    val kept = sh.localCheckpoint() // feeds both store writes
    kept
      .withColumn(SigBucketCol, pmod(hash(col("doc_id")), lit(sigBuckets)))
      .repartition(col(SigBucketCol))
      .sortWithinPartitions(col("doc_id")) // tight row-group id stats
      .write.partitionBy(SigBucketCol)
      .mode("overwrite").parquet(s"$sigStorePath/batch=$batchId")
    Dedup.bandPostings(kept, "doc_id", nBands, rowsPerBand)
      .withColumnRenamed("doc_id", "hist_id")
      .withColumn(PostingsBucketCol,
        pmod(hash(col("band"), col("band_hash")), lit(postingsBuckets)))
      .repartition(col(PostingsBucketCol))
      .sortWithinPartitions(col("band"), col("band_hash")) // row-group
      // min/max stats stay tight, so digest-range skipping works at scale
      .write.partitionBy(PostingsBucketCol)
      .mode("overwrite").parquet(s"$postingsPath/batch=$batchId")
  }

  /** A batch's view of a bucketed store: `agg` as `aggName` per `key`,
    * read from ONLY the buckets `keys` touch (a bounded driver collect)
    * and never from this batch's own delta (a replay must not see it). */
  private def priorPerKey(keys: DataFrame, batchId: Long, storePath: String,
      bucketCol: String, key: String, agg: Column, aggName: String): DataFrame = {
    val spark = keys.sparkSession
    val touched = keys.select(bucketCol).distinct().collect().map(_.getInt(0)).toSeq
    val fs = new Path(storePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(storePath)) || touched.isEmpty)
      spark.range(0).select(lit("").as(key), lit(0L).as(aggName))
    else spark.read.parquet(storePath)
      .filter(col("batch") =!= batchId && col(bucketCol).isin(touched: _*))
      .groupBy(key).agg(agg.as(aggName))
  }

  /** Batch signatures → ids whose MinHash matches the bucketed history
    * (the pruned-store lookup shared by [[nearDupGateBucketedBatch]] and
    * [[curateV3GateBatch]]): band postings of the batch are joined against
    * ONLY the postings buckets they touch, candidate pairs against ONLY
    * the signature buckets holding candidate hist ids — per-trigger I/O
    * scales with the drop, not the history. Both driver collects are
    * bounded by the bucket counts. */
  private[graft] def bucketedHistDupIds(
      spark: SparkSession,
      shBatch: DataFrame, // (doc_id, hs, sig)
      batchId: Long,
      postingsPath: String,
      storePath: String,
      nBands: Int,
      rowsPerBand: Int,
      minJaccard: Double,
      postingsBuckets: Int,
      sigBuckets: Int): DataFrame = {
    val bNew = Dedup.bandPostings(shBatch, "doc_id", nBands, rowsPerBand)
      .withColumnRenamed("doc_id", "new_id")
      .localCheckpoint() // feeds touched-bucket collect + candidate join
    val fs = new Path(postingsPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(postingsPath)))
      return shBatch.select(col("doc_id")).limit(0)
    // touched postings buckets: bounded driver collect (≤ postingsBuckets)
    val touched = bNew
      .select(pmod(hash(col("band"), col("band_hash")), lit(postingsBuckets)).as("bk"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val postHist = spark.read.parquet(postingsPath)
      .filter(col("batch") =!= batchId &&
        col(PostingsBucketCol).isin(touched: _*))
      .select(col("hist_id"), col("band"), col("band_hash"))
      .localCheckpoint() // feeds the cap count AND the candidate join:
      // one pruned read instead of two full passes over the partitions
    // combined-membership bucket cap, same semantics as the
    // single-store join (Dedup.minhashIncrementalPairsFromSignatures)
    val okKeys = bNew.select(col("band"), col("band_hash"))
      .unionByName(postHist.select(col("band"), col("band_hash")))
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= Dedup.MaxBucket)
      .select(col("band"), col("band_hash"))
    val cand = bNew
      .join(okKeys, Seq("band", "band_hash"), "left_semi")
      .join(postHist, Seq("band", "band_hash"))
      .select(col("new_id"), col("hist_id"))
      .distinct()
      .localCheckpoint() // feeds sbucket collect + screen + verify
    // candidate signature buckets: bounded driver collect (≤ sigBuckets)
    val candBuckets = cand
      .select(pmod(hash(col("hist_id")), lit(sigBuckets)).as("sb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (candBuckets.isEmpty) shBatch.select(col("doc_id")).limit(0)
    else {
      val shHist = spark.read.parquet(storePath)
        .filter(col("batch") =!= batchId &&
          col(SigBucketCol).isin(candBuckets: _*))
        .select(col("doc_id").as("hist_id"), col("hs"), col("sig"))
      Dedup.minhashVerifyCandidates(cand,
        shBatch.withColumnRenamed("doc_id", "new_id"), shHist,
        nBands * rowsPerBand, minJaccard)
        .select(col("new_id").as("doc_id")).distinct()
    }
  }

  /** Streaming MODEL gate — "train once, score every drop": each arriving
    * micro-batch is scored against PRE-TRAINED model tables
    * ([[graft.llm.Classify.nbTrain]]/[[graft.llm.Classify.nbPriors]] and
    * [[graft.llm.LangModel.lmUnigrams]]/[[graft.llm.LangModel.lmBigrams]],
    * persisted once by a batch training job) and routed: a document is
    * KEPT when its predicted label is in `acceptLabels` AND its bigram
    * log-prob clears the per-pair floor (`lp_micros >= minAvgLpMicros *
    * n_pairs` — the integer form of "average log-prob ≥ threshold";
    * zero-pair docs pass the LM test vacuously). NULL-text documents are
    * always routed to REJECTED (explicit policy: no text means nothing
    * to train on; the scorers themselves treat NULL as the empty token
    * sequence so the routing predicate can never be NULL). Both routes
    * land as idempotent `batch=<id>/` overwrites, the
    * [[nearDupGateBatch]] exactly-once discipline.
    *
    * Scale posture: scoring is the batch operators' ZERO-shuffle
    * projection, so a trigger costs one corpus-scan projection plus two
    * partitioned writes — no state store, no joins, nothing grows with
    * stream lifetime. The dimension-sized model tables are re-collected
    * per trigger (the eager [[graft.llm.Classify.nbScoreWith]] posture);
    * cache them (`.cache()`) in long-running streams to make that a
    * driver-memory read. */
  def scoreGateSink(
      docs: DataFrame,
      keptPath: String,
      rejectedPath: String,
      checkpointDir: String,
      nbTokenModel: DataFrame,
      nbPriors: DataFrame,
      lmUnigramModel: DataFrame,
      lmBigramModel: DataFrame,
      acceptLabels: Set[String],
      minAvgLpMicros: Long): DataStreamWriter[Row] =
    gateSink(docs, checkpointDir) { (batch, batchId) =>
      scoreGateBatch(batch, batchId, keptPath, rejectedPath,
        nbTokenModel, nbPriors, lmUnigramModel, lmBigramModel,
        acceptLabels, minAvgLpMicros)
    }

  /** One micro-batch of [[scoreGateSink]], callable directly. */
  def scoreGateBatch(
      batch: DataFrame,
      batchId: Long,
      keptPath: String,
      rejectedPath: String,
      nbTokenModel: DataFrame,
      nbPriors: DataFrame,
      lmUnigramModel: DataFrame,
      lmBigramModel: DataFrame,
      acceptLabels: Set[String],
      minAvgLpMicros: Long): Unit = {
    require(acceptLabels.nonEmpty, "scoreGateBatch needs at least one accept label")
    val b = batch.localCheckpoint() // feeds one scoring pass + two writes
    val dataCols = b.columns.filterNot(_ == "doc_id").toSeq
    // both scorers CHAIN as projections (the data columns ride through as
    // passThrough), so routing never joins or shuffles the batch
    val scored = graft.llm.LangModel.lmScoreWith(
      graft.llm.Classify.nbScoreWith(b, "doc_id", "text",
        nbTokenModel, nbPriors, passThrough = dataCols),
      "doc_id", "text", lmUnigramModel, lmBigramModel,
      passThrough = dataCols :+ "predicted_label")
    // NULL-text semantics, decided explicitly: the scorers map NULL text
    // to the empty token sequence (prior-argmax label, n_pairs=0), so a
    // NULL-text doc would pass both gates vacuously. A doc with no text
    // is not trainable content — route it to REJECTED. coalesce keeps
    // the routing total even if a future scorer reintroduces NULL: a
    // NULL pass would drop the doc from kept AND rejected.
    val routed = scored
      .withColumn("pass",
        coalesce(
          col("text").isNotNull &&
            col("predicted_label").isin(acceptLabels.toSeq: _*) &&
            col("lp_micros") >= lit(minAvgLpMicros) * col("n_pairs"),
          lit(false)))
      .localCheckpoint()
    val outCols = ("doc_id" +: dataCols).map(col)
    routed.filter(col("pass")).select(outCols: _*)
      .write.mode("overwrite").parquet(s"$keptPath/batch=$batchId")
    routed.filter(!col("pass")).select(outCols: _*)
      .write.mode("overwrite").parquet(s"$rejectedPath/batch=$batchId")
  }

  /** Partition column of the domain-cap count store:
    * `pmod(hash(domain), buckets)`. */
  val DomainBucketCol = "dbucket"

  /** Streaming PER-DOMAIN CAP gate — the C4/RefinedWeb "no domain
    * dominates" rule ([[graft.llm.Mixture.domainCap]]) applied drop by
    * drop: each arriving micro-batch derives registrable domains (the
    * L65 zero-shuffle kernel projection), consults the accumulated
    * per-domain admitted counts, and routes docs kept/rejected so that
    * across the stream's WHOLE lifetime at most `perDomain` docs per
    * domain are kept.
    *
    * Semantics: FIRST-ARRIVED-WINS across batches (earlier drops hold
    * their slots — re-deciding history would un-keep already-shipped
    * docs); hash-priority then doc-id WITHIN a batch (the
    * [[graft.llm.Mixture.stratifiedSample]] order, so a replayed batch
    * re-decides identically). Docs with no registrable domain are
    * rejected (a capless unattributable bucket would defeat the cap).
    * Kept ∪ rejected = batch, always.
    *
    * State = the count store at `storePath`: per-batch delta rows
    * `(domain, n_admitted)` hive-partitioned by
    * `dbucket = pmod(hash(domain), buckets)`. A trigger reads ONLY the
    * buckets its own domains touch (partition pruning), and
    * `compactEvery` folds finalized deltas into a SUMMED `batch=-1`
    * base (one row per domain), so per-trigger I/O scales with the
    * drop's domain set, not the stream's lifetime. Exactly-once by the
    * [[nearDupGateBatch]] discipline: per-batch overwrites, history
    * excludes the current batch id. */
  def domainCapGateSink(
      docs: DataFrame,
      urlCol: String,
      keptPath: String,
      rejectedPath: String,
      storePath: String,
      checkpointDir: String,
      perDomain: Int,
      buckets: Int = 64,
      compactEvery: Int = 8,
      suffixCsv: String = graft.functions.GraftUrlOps.DefaultSuffixes,
      ttlBatches: Long = 0): DataStreamWriter[Row] =
    gateSink(docs, checkpointDir) { (batch, batchId) =>
      domainCapGateBatch(batch, batchId, urlCol, keptPath, rejectedPath,
        storePath, perDomain, buckets, compactEvery, suffixCsv, ttlBatches)
    }

  /** One micro-batch of [[domainCapGateSink]], callable directly. */
  def domainCapGateBatch(
      batch: DataFrame,
      batchId: Long,
      urlCol: String,
      keptPath: String,
      rejectedPath: String,
      storePath: String,
      perDomain: Int,
      buckets: Int = 64,
      compactEvery: Int = 8,
      suffixCsv: String = graft.functions.GraftUrlOps.DefaultSuffixes,
      ttlBatches: Long = 0): Unit = {
    require(perDomain >= 1, s"perDomain must be >= 1, got $perDomain")
    val spark = batch.sparkSession
    // Compact BEFORE reading prior counts, never after ([[
    // nearDupGateBucketedBatch]] order): compaction at batch start also
    // runs crash RECOVERY, and a committed-but-unswapped fold means some
    // deltas live only in the staging dir — which the prior read cannot
    // see. Deciding against the un-recovered store would under-count
    // every domain the lost delta touched and silently overshoot the cap.
    if (compactsAt(batchId, compactEvery))
      compactDomainStore(spark, storePath, batchId, ttlBatches)
    val dataCols = batch.columns.toSeq
    val (tagged, decided) = admitDomains(batch, batchId, urlCol, storePath,
      perDomain, buckets, suffixCsv)
    val outCols = (dataCols :+ "domain").map(col)
    decided.filter(col("admit")).select(outCols: _*)
      .write.mode("overwrite").parquet(s"$keptPath/batch=$batchId")
    decided.filter(!col("admit")).select(outCols: _*)
      .unionByName(tagged.filter(col("domain").isNull).select(outCols: _*))
      .write.mode("overwrite").parquet(s"$rejectedPath/batch=$batchId")
    landAdmitted(decided, batchId, storePath)
  }

  /** Compacts a domain-cap count store: deltas SUM per domain (per
    * origin too under TTL: the sliding-window cap). */
  private def compactDomainStore(spark: SparkSession, storePath: String,
      batchId: Long, ttlBatches: Long): Unit =
    compactBucketedStore(spark, storePath, DomainBucketCol, batchId,
      fold = foldPer(DomainBucketCol, "domain", sum("n_admitted").as("n_admitted"),
        ttlBatches),
      ttlBatches = ttlBatches)

  /** One batch's [[domainCapGateSink]] decision: (`docs` tagged with
    * domain and bucket, its domain-bearing rows with `admit`). */
  private def admitDomains(docs: DataFrame, batchId: Long, urlCol: String,
      storePath: String, perDomain: Int, buckets: Int,
      suffixCsv: String): (DataFrame, DataFrame) = {
    val host = graft.functions.GraftUrlOps.urlHostCol(col(urlCol))
    val tagged = docs
      .withColumn("domain",
        graft.functions.GraftUrlOps.registrableDomainCol(host, suffixCsv))
      .withColumn(DomainBucketCol, pmod(hash(col("domain")), lit(buckets)))
      .localCheckpoint() // one derivation feeds rank, joins, and the writes
    val prior = priorPerKey(tagged.filter(col("domain").isNotNull), batchId,
      storePath, DomainBucketCol, "domain", sum("n_admitted"), "prior")
    // within-batch deterministic priority (the stratifiedSample order)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(graft.llm.Sampling.hashBucket(col("doc_id"), 100), col("doc_id"))
    val decided = tagged
      .filter(col("domain").isNotNull)
      .withColumn("rk", row_number().over(w))
      .join(prior, Seq("domain"), "left")
      .withColumn("admit",
        coalesce(col("prior"), lit(0L)) + col("rk") <= perDomain)
      .localCheckpoint()
    (tagged, decided)
  }

  /** Lands this batch's admitted count per domain into the count store. */
  private def landAdmitted(decided: DataFrame, batchId: Long, storePath: String): Unit =
    decided.filter(col("admit"))
      .groupBy(col(DomainBucketCol), col("domain"))
      .agg(count(lit(1)).as("n_admitted"))
      .write.partitionBy(DomainBucketCol)
      .mode("overwrite").parquet(s"$storePath/batch=$batchId")

  /** Streaming DECONTAMINATION gate — "protect the eval set from every
    * drop": each arriving micro-batch of embedded documents is checked
    * against a FIXED benchmark embedding table
    * ([[graft.llm.Contamination.semantic]]) and routed — a document is
    * REJECTED when its cosine to any benchmark vector reaches
    * `minCosine`. The benchmark side is dimension-sized (eval suites)
    * and broadcast, so a trigger costs one zero-shuffle bucket/cosine
    * projection over the drop plus one drop-sized verdict join — no
    * state store, nothing grows with stream lifetime (the benchmark is
    * immutable by definition: that is what makes it a benchmark). Routes
    * land as idempotent `batch=<id>/` overwrites, the
    * [[nearDupGateBatch]] exactly-once discipline. */
  def decontamGateSink(
      docs: DataFrame,
      keptPath: String,
      rejectedPath: String,
      checkpointDir: String,
      benchmark: DataFrame,
      nPlanes: Int = 4,
      minCosine: Double = 0.8,
      multiprobe: Int = 1): DataStreamWriter[Row] =
    gateSink(docs, checkpointDir) { (batch, batchId) =>
      decontamGateBatch(batch, batchId, keptPath, rejectedPath,
        benchmark, nPlanes, minCosine, multiprobe)
    }

  /** One micro-batch of [[decontamGateSink]], callable directly. */
  def decontamGateBatch(
      batch: DataFrame,
      batchId: Long,
      keptPath: String,
      rejectedPath: String,
      benchmark: DataFrame,
      nPlanes: Int,
      minCosine: Double,
      multiprobe: Int): Unit = {
    val b = batch.localCheckpoint() // feeds the verdict pass + two writes
    val dataCols = b.columns.filterNot(_ == "doc_id").toSeq
    // semantic() covers every corpus id (left join inside), so the
    // verdict join is total: no doc can vanish from both routes
    val verdict = graft.llm.Contamination.semantic(
      b, benchmark, "doc_id", "embedding", nPlanes, minCosine, multiprobe)
      .select(col("vec_id").as("doc_id"), col(graft.llm.Contamination.Flag))
    val routed = b.join(verdict, Seq("doc_id")).localCheckpoint()
    val outCols = ("doc_id" +: dataCols).map(col)
    routed.filter(!col(graft.llm.Contamination.Flag)).select(outCols: _*)
      .write.mode("overwrite").parquet(s"$keptPath/batch=$batchId")
    routed.filter(col(graft.llm.Contamination.Flag)).select(outCols: _*)
      .write.mode("overwrite").parquet(s"$rejectedPath/batch=$batchId")
  }

  /** Streaming ANN-INDEX maintenance — "train the quantizer once, index
    * every drop": each arriving micro-batch of embeddings is IVF-PQ
    * encoded against the FIXED trained quantizer pair
    * ([[graft.llm.Pq.ivfPqEncode]], the L55 production shape) and lands
    * as cell-partitioned posting rows under `batch=<id>/cell=<c>/`.
    *
    * Scale posture: encode is a zero-shuffle kernel projection (m
    * argmins over literal centroid matrices), so a trigger costs one
    * projection over the drop plus one partitioned write — no state
    * store, no joins, and nothing about the trigger grows with index
    * lifetime. The quantizer is immutable by contract (retrain drift is
    * what [[graft.llm.Similarity.ivfAssign]]'s own-centroid-cosine
    * signal monitors); per-directory overwrite keeps crash-replayed
    * batches idempotent. Searches over the accumulated index
    * ([[graft.llm.Pq.ivfPqSearchOverIndex]] /
    * `ivfPqSearchBatchOverIndex`) filter on `cell`, which partition
    * discovery prunes across every `batch=*` directory — a probe reads
    * only the probed cells' files regardless of how many drops have
    * landed. */
  def annIndexSink(
      vectors: DataFrame,
      indexPath: String,
      checkpointDir: String,
      coarse: graft.llm.Pq.PqModel,
      pq: graft.llm.Pq.PqModel,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataStreamWriter[Row] =
    gateSink(vectors, checkpointDir) { (batch, batchId) =>
      annIndexBatch(batch, batchId, indexPath, coarse, pq, idCol, vecCol)
    }

  /** One micro-batch of [[annIndexSink]], callable directly. */
  def annIndexBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      coarse: graft.llm.Pq.PqModel,
      pq: graft.llm.Pq.PqModel,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    graft.llm.Pq.ivfPqEncode(batch, idCol, vecCol, coarse, pq)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$indexPath/batch=$batchId")

  /** The accumulated streamed index (`batch` and `cell` become partition
    * columns; search helpers ignore the extra `batch`). */
  def readAnnIndex(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(indexPath)

  /** Streaming PROFILE accumulation — corpus health without corpus
    * re-scans: each arriving micro-batch is profiled ONCE into its
    * mergeable [[graft.llm.Profile.state]] table (counts, min/max, sums,
    * KMV bottom-k hash arrays) landed under `batch=<id>/`;
    * [[profileSoFar]] then answers "profile of everything that has ever
    * arrived" by folding the dimension-sized state tables — bit-identical
    * to a one-pass profile over the concatenated drops (the KMV merge
    * identity), at O(batches × columns) driver-sized cost per read.
    * Per-directory overwrite keeps crash-replayed batches idempotent; no
    * state store, and a trigger costs exactly one scan of its own drop. */
  def profileSink(
      docs: DataFrame,
      statePath: String,
      checkpointDir: String,
      columns: Seq[String] = Nil,
      kmvK: Int = 64): DataStreamWriter[Row] =
    gateSink(docs, checkpointDir) { (batch, batchId) =>
      profileBatch(batch, batchId, statePath, columns, kmvK)
    }

  /** One micro-batch of [[profileSink]], callable directly. */
  def profileBatch(
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      columns: Seq[String] = Nil,
      kmvK: Int = 64): Unit =
    graft.llm.Profile.state(batch, columns, kmvK)
      .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")

  /** The merged profile over every batch landed so far. */
  def profileSoFar(
      spark: SparkSession,
      statePath: String,
      kmvK: Int = 64): DataFrame =
    graft.llm.Profile.merge(Seq(spark.read.parquet(statePath)), kmvK)
  /** Partition column of the exact-digest index store:
    * `pmod(hash(text_md5), digestBuckets)`. */
  val DigestBucketCol = "xbucket"

  /** Streaming SEVEN-GATE curation sink — [[graft.llm.Curation.curateV3]]
    * applied drop by drop against persisted artifacts and bucketed history
    * stores, ONE verdict per document, built by the batch verdict builder
    * over the gate list of [[graft.llm.Curation]] (first failing gate):
    *
    *  1. `exact_dup`    — drop-internal md5 window + the bucketed digest
    *                      index (min id per digest, history ∪ drop);
    *  2. `domain_capped` — [[domainCapGateBatch]] semantics: registrable
    *                      domain kernel, prior admitted counts from the
    *                      bucketed domain store, first-arrived-wins across
    *                      batches, hash-priority-then-id within a batch,
    *                      domainless docs inadmissible;
    *  3. `low_quality`  — zero-shuffle kernel projection;
    *  4. `off_label`    — [[graft.llm.Classify.nbScoreWith]] against the
    *                      persisted NB model (train once, score drops);
    *  5. `low_lp`       — [[graft.llm.LangModel.lmScoreWith]] against the
    *                      persisted bigram LM;
    *  6. `contaminated` — n-gram overlap vs the FIXED benchmark table
    *                      (broadcast semi-join, nothing grows);
    *  7. `near_duplicate` — in-drop MinHash clustering + cluster
    *                      representatives vs the bucketed postings/
    *                      signature history ([[bucketedHistDupIds]]).
    *
    * Gates evaluate INDEPENDENTLY over the drop (the [[graft.llm.Curation]]
    * discipline: no gate alters another\u0027s inputs), so each history store
    * accumulates by its OWN gate rule regardless of the composed verdict:
    * every new digest lands, every cap winner counts, every non-history-dup
    * representative\u0027s signature lands. That is exactly what makes the
    * composed routing equal batch `curateV3` on a fixed split (spec-pinned
    * equivalence, [[graft.llm.Curation.curateV2With]]\u0027s chain caveat and
    * the domain gate\u0027s first-arrived-wins order carrying over).
    *
    * Exactly-once by the [[nearDupGateBatch]] discipline: every route and
    * every store delta is a per-batch `batch=<id>/` overwrite, history
    * reads exclude the current batch id, in-batch decisions are
    * deterministic — a crash-replayed batch re-decides identically.
    * Per-trigger bytes are bounded by the drop: four bucketed stores read
    * only their touched buckets, models/benchmark are dimension-sized.
    * Compaction (with crash roll-forward recovery) runs at batch START so
    * a recovering fold is visible before prior counts are read. */
  def curateV3GateSink(
      docs: DataFrame,
      urlCol: String,
      keptPath: String,
      rejectedPath: String,
      digestStorePath: String,
      domainStorePath: String,
      postingsPath: String,
      sigStorePath: String,
      checkpointDir: String,
      nbTokenModel: DataFrame,
      nbPriors: DataFrame,
      lmUnigramModel: DataFrame,
      lmBigramModel: DataFrame,
      benchmark: DataFrame,
      acceptLabels: Set[String],
      minQuality: Double = 0.4,
      minAvgLpMicros: Long = -3450000L,
      minJaccard: Double = 0.5,
      perDomain: Int = 100,
      contaminationN: Int = 3,
      maxContamination: Double = 0.2,
      suffixCsv: String = graft.functions.GraftUrlOps.DefaultSuffixes,
      shingleK: Int = 5,
      perms: Int = 64,
      nBands: Int = 16,
      rowsPerBand: Int = 4,
      digestBuckets: Int = 64,
      domainBuckets: Int = 64,
      postingsBuckets: Int = 64,
      sigBuckets: Int = 64,
      compactEvery: Int = 8,
      ttlBatches: Long = 0): DataStreamWriter[Row] =
    gateSink(docs, checkpointDir) { (batch, batchId) =>
      curateV3GateBatch(batch, batchId, urlCol, keptPath, rejectedPath,
        digestStorePath, domainStorePath, postingsPath, sigStorePath,
        nbTokenModel, nbPriors, lmUnigramModel, lmBigramModel, benchmark,
        acceptLabels, minQuality, minAvgLpMicros, minJaccard, perDomain,
        contaminationN, maxContamination, suffixCsv, shingleK, perms,
        nBands, rowsPerBand, digestBuckets, domainBuckets,
        postingsBuckets, sigBuckets, compactEvery, ttlBatches)
    }

  /** One micro-batch of [[curateV3GateSink]], callable directly. */
  def curateV3GateBatch(
      batch: DataFrame,
      batchId: Long,
      urlCol: String,
      keptPath: String,
      rejectedPath: String,
      digestStorePath: String,
      domainStorePath: String,
      postingsPath: String,
      sigStorePath: String,
      nbTokenModel: DataFrame,
      nbPriors: DataFrame,
      lmUnigramModel: DataFrame,
      lmBigramModel: DataFrame,
      benchmark: DataFrame,
      acceptLabels: Set[String],
      minQuality: Double = 0.4,
      minAvgLpMicros: Long = -3450000L,
      minJaccard: Double = 0.5,
      perDomain: Int = 100,
      contaminationN: Int = 3,
      maxContamination: Double = 0.2,
      suffixCsv: String = graft.functions.GraftUrlOps.DefaultSuffixes,
      shingleK: Int = 5,
      perms: Int = 64,
      nBands: Int = 16,
      rowsPerBand: Int = 4,
      digestBuckets: Int = 64,
      domainBuckets: Int = 64,
      postingsBuckets: Int = 64,
      sigBuckets: Int = 64,
      compactEvery: Int = 8,
      ttlBatches: Long = 0): Unit = {
    require(acceptLabels.nonEmpty, "curateV3GateBatch needs at least one accept label")
    require(perDomain >= 1, s"perDomain must be >= 1, got $perDomain")
    val spark = batch.sparkSession
    // compaction + crash roll-forward at batch START, never after the
    // prior reads (the [[domainCapGateBatch]] ordering argument)
    if (compactsAt(batchId, compactEvery)) {
      // under TTL the admission batch joins each aggregation key (a
      // digest is live in at most one origin at a time — re-admission is
      // only possible after the prior row physically expired)
      compactBucketedStore(spark, digestStorePath, DigestBucketCol, batchId,
        fold = foldPer(DigestBucketCol, "text_md5", min("keep_id").as("keep_id"),
          ttlBatches),
        ttlBatches = ttlBatches)
      compactDomainStore(spark, domainStorePath, batchId, ttlBatches)
      compactNearDupStores(spark, postingsPath, sigStorePath, batchId, ttlBatches)
    }
    val b = batch.localCheckpoint() // feeds all seven gates + routing
    val dataCols = b.columns.toSeq

    // gate 1 (exact_dup): drop-window min vs the pruned digest index
    val digested = Curation.digestWindow(b)
      .withColumn(DigestBucketCol, pmod(hash(col("text_md5")), lit(digestBuckets)))
      .localCheckpoint() // feeds prior read, verdict join, store delta
    val exact = Curation.exactKeep(digested, priorPerKey(digested, batchId,
      digestStorePath, DigestBucketCol, "text_md5", min("keep_id"), "hist_min"))

    // gate 2 (domain_capped): the [[domainCapGateBatch]] decision
    val (_, decided) = admitDomains(b.select(col("doc_id"), col(urlCol)), batchId,
      urlCol, domainStorePath, perDomain, domainBuckets, suffixCsv)
    val winners = decided.filter(col("admit"))
      .select(col("doc_id"), lit(true).as("in_cap"))

    // gates 3-5: one scoring pass over b (the Curation.scored chain)
    val scores = Curation.scored(b, nbTokenModel, nbPriors, lmUnigramModel, lmBigramModel)

    // gate 6: n-gram overlap vs the fixed benchmark (broadcast side)
    val contam = graft.llm.Contamination.overlap(
      b.select(col("doc_id"), col("text")), benchmark, "doc_id", "text",
      n = contaminationN, maxRatio = maxContamination)
      .select("doc_id", graft.llm.Contamination.Flag)

    // gate 7: in-drop clusters, representatives vs bucketed history
    val clusters = Dedup.clusters(b.select(col("doc_id")),
      Dedup.minhashPairs(b.select(col("doc_id"), col("text")), "doc_id", "text",
        shingleK, perms, nBands, rowsPerBand, minJaccard))
      .localCheckpoint() // feeds rep selection + verdict join
    val repDocs = b.join(clusters.filter(col("cluster_id") === col("doc_id"))
      .select("doc_id"), Seq("doc_id"), "left_semi")
    val shReps = Dedup.signatureTable(repDocs, "doc_id", "text", shingleK, perms)
      .localCheckpoint() // feeds history lookup + signature delta
    val repHistDup = bucketedHistDupIds(spark, shReps, batchId,
      postingsPath, sigStorePath, nBands, rowsPerBand, minJaccard,
      postingsBuckets, sigBuckets)
      .select(col("doc_id").as("cluster_id"))
      .withColumn("rep_hist_dup", lit(true))

    // the composed verdict: the Curation gate list, history-aware
    val verdict = Curation.verdict(
      scores
        .join(exact, Seq("doc_id"))
        .join(winners, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"))
        .join(clusters, Seq("doc_id"))
        .join(repHistDup, Seq("cluster_id"), "left"),
      Curation.sevenGates(minQuality, acceptLabels, minAvgLpMicros, vsHistory = true))
      .select("doc_id", "reason")
    val routed = b.join(verdict, Seq("doc_id")).localCheckpoint()
    val outCols = (dataCols :+ "reason").map(col)
    routed.filter(col("reason") === Curation.Kept).select(outCols: _*)
      .write.mode("overwrite").parquet(s"$keptPath/batch=$batchId")
    routed.filter(col("reason") =!= Curation.Kept).select(outCols: _*)
      .write.mode("overwrite").parquet(s"$rejectedPath/batch=$batchId")

    // store deltas — each by its OWN gate rule (gate independence), all
    // idempotent per-batch overwrites
    digested
      .groupBy(col(DigestBucketCol), col("text_md5"))
      .agg(min("doc_id").as("keep_id"))
      .filter(col("text_md5").isNotNull) // NULL text carries no digest
      .write.partitionBy(DigestBucketCol)
      .mode("overwrite").parquet(s"$digestStorePath/batch=$batchId")
    landAdmitted(decided, batchId, domainStorePath)
    landSignatures(shReps.join(repHistDup.select(col("cluster_id").as("doc_id")),
      Seq("doc_id"), "left_anti"), batchId, sigStorePath, postingsPath,
      nBands, rowsPerBand, postingsBuckets, sigBuckets)
  }
}
