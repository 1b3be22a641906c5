package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.CorpusStream

/** Dev tool: drop-by-drop soak for the streaming near-dup gate (not part
  * of the driver contract). Splits a documents table into id-range drops
  * (the arrival order of a crawl), lands them as a file-source stream,
  * and drains through [[CorpusStream.nearDupGateSink]] one file per
  * trigger — so every batch pays the real cost profile: in-batch LSH
  * clustering plus the bipartite join against the signature store of all
  * previously kept documents, with the store growing across batches.
  *
  * Prints wall, per-batch drain rate, kept/total docs, and the signature
  * store's row count and byte size (the thing that must stay ~0.5 KB/doc
  * for the 100 TB posture to hold). Each trigger also reports its INPUT
  * BYTES READ (SparkListener task metrics): in `plain` mode that grows
  * with the store (the whole signature history is re-scanned per
  * trigger); in `bucketed` mode ([[CorpusStream.nearDupGateBucketedBatch]],
  * hive-bucketed postings + signature stores with partition-pruned
  * reads) it must scale with the drop.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.GateSoak
  *     /root/testdata/sf0.1/documents.parquet /tmp/gate_soak 10 bucketed'
  */
object GateSoak {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: GateSoak <documentsParquet> <workDir> [nDrops] [plain|bucketed]")
    val docsPath = args(0)
    val work = args(1)
    val nDrops = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "plain"
    require(mode == "plain" || mode == "bucketed" || mode == "curate" ||
      mode == "profile" || mode == "domaincap" || mode == "curatev3" ||
      mode == "domaincapttl",
      s"unknown mode $mode")
    // The sf testdata documents are short (~45 words -> hs ≈ 350 B/doc);
    // production curation corpora run 500+ words, where the shingle
    // arrays dominate the signature store and the bucketed layout's
    // candidates-only hs reads pay off. `inflate` repeats each text so
    // the soak can measure at a realistic bytes-per-doc.
    val inflate = if (args.length > 4) args(4).toInt else 1
    val spark = LocalSession()

    val rawDocs = spark.read.parquet(docsPath)
    // inflate with alphabet-rotated copies: each copy contributes its own
    // distinct shingle space while preserving every pair's jaccard, so
    // the dedup structure is unchanged and only bytes/doc grows
    val docs = if (inflate <= 1) rawDocs else {
      val alphabet = "abcdefghijklmnopqrstuvwxyz"
      val copies = (0 until inflate).map { k =>
        val rot = alphabet.drop(k % 26) + alphabet.take(k % 26)
        if (k == 0) col("text") else translate(col("text"), alphabet, rot)
      }
      rawDocs.withColumn("text", concat_ws(" ", copies: _*))
    }
    val (minId, maxId, total) = {
      val r = docs.agg(min("doc_id"), max("doc_id"), count(lit(1))).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val span = (maxId - minId + nDrops) / nDrops
    val dropDir = s"$work/drops"
    for (i <- 0 until nDrops) {
      docs.filter(col("doc_id").between(minId + i * span, minId + (i + 1) * span - 1))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$work/stage_$i")
      val staged = Files.list(java.nio.file.Paths.get(s"$work/stage_$i")).toArray
        .map(_.toString).filter(_.endsWith(".parquet"))
      Files.createDirectories(java.nio.file.Paths.get(dropDir))
      Files.move(java.nio.file.Paths.get(staged.head),
        java.nio.file.Paths.get(f"$dropDir/drop_$i%03d.parquet"))
    }
    println(s"staged $nDrops drops of ~$span docs ($total total, ids $minId..$maxId)")

    val corpus = s"$work/corpus"
    val store = s"$work/store"
    val ckpt = s"$work/ckpt"

    // per-trigger input-bytes accounting (what must scale with the DROP,
    // not the history, for the bucketed form)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    })

    def readDrop(i: Int) = spark.read.schema(CorpusStream.documentsSchema)
      .parquet(f"$dropDir/drop_$i%03d.parquet")
    // 211 synthetic registrable domains spread across the corpus
    val syntheticUrl = concat(lit("https://www.h"),
      pmod(col("doc_id"), lit(211L)).cast("string"),
      lit("site.com/"), col("doc_id").cast("string"))

    val t0 = System.nanoTime()
    if (mode == "profile") {
      // Drop-by-drop INCREMENTAL profiling (Profile.state per drop,
      // merge over the accumulated dimension-sized states): per-drop
      // bytes must scale with the drop, the state store with
      // drops × columns — and the merged report must equal the one-pass
      // profile of everything seen, to the bit, after every drop.
      import graft.llm.Profile
      val statePath = s"$work/profile_state"
      var mismatch = false
      for (i <- 0 until nDrops) {
        val drop = readDrop(i)
        val b0 = bytesRead.get()
        val tb = System.nanoTime()
        CorpusStream.profileBatch(drop, i.toLong, statePath)
        val merged = CorpusStream.profileSoFar(spark, statePath)
          .collect().map(_.toString).sorted.toSeq
        val stateRows = spark.read.parquet(statePath).count()
        println(f"  drop $i%2d: ${(bytesRead.get() - b0) / 1024}%6d KB read, " +
          f"${(System.nanoTime() - tb) / 1e9}%.2f s, state_rows=$stateRows")
        if (i == nDrops - 1) {
          val seen = (0 to i).map(readDrop).reduce(_ unionByName _)
          val onePass = Profile.profile(seen).collect().map(_.toString).sorted.toSeq
          mismatch = merged != onePass
          println(s"  final merge == one-pass profile: ${!mismatch}")
        }
      }
      val stateBytes = Files.walk(java.nio.file.Paths.get(statePath)).toArray
        .map(_.asInstanceOf[java.nio.file.Path].toFile)
        .filter(_.isFile).map(_.length).sum
      println(f"PROFILE SOAK: $nDrops drops, $total docs, " +
        f"state ${stateBytes / 1024} KB, wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()
      if (mismatch) sys.exit(1)
      return
    }
    if (mode == "domaincap") {
      // Drop-by-drop per-domain cap over the synthetic domains; the cap
      // saturates mid-soak, so later triggers exercise the full-domain
      // rejection path. Watch the per-trigger bytes: the bucketed count
      // store + compaction should keep reads bounded by the drop's domain
      // buckets, not history.
      val kept = s"$work/kept"
      val rej = s"$work/rej"
      var keptTotal = 0L
      for (i <- 0 until nDrops) {
        val drop = readDrop(i).select(col("doc_id"), syntheticUrl.as("url"))
        val b0 = bytesRead.get()
        val tb = System.nanoTime()
        CorpusStream.domainCapGateBatch(drop, i.toLong, "url", kept, rej,
          store, perDomain = 5, buckets = 16, compactEvery = 4)
        val nKept = spark.read.parquet(s"$kept/batch=$i").count()
        keptTotal += nKept
        println(f"  trigger $i%2d: ${(bytesRead.get() - b0) / 1024}%6d KB read, " +
          f"${(System.nanoTime() - tb) / 1e9}%.1f s, $nKept kept")
      }
      val byDomain = spark.read.parquet(kept).groupBy("domain").count()
      val overCap = byDomain.filter(col("count") > 5).count()
      val storeRows = spark.read.parquet(store).count()
      println(f"DOMAINCAP SOAK: $nDrops drops, $total docs -> $keptTotal kept " +
        f"across ${byDomain.count()} domains, over-cap domains $overCap " +
        f"(MUST be 0), store rows $storeRows, wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()
      if (overCap > 0) sys.exit(1)
      return
    }
    if (mode == "domaincapttl") {
      // The RETENTION contract (r17 verdict item 4): same drop shape as
      // `domaincap`, but the store ages out admissions older than
      // ttlBatches at each compaction — the cap becomes sliding-window
      // ("perDomain per horizon") and the store size is BOUNDED by
      // domains x live origins instead of growing with stream lifetime.
      val kept = s"$work/kept"
      val rej = s"$work/rej"
      val ttl = 3L
      val every = 2
      var keptTotal = 0L
      var maxStoreRows = 0L
      for (i <- 0 until nDrops) {
        val drop = readDrop(i).select(col("doc_id"), syntheticUrl.as("url"))
        val b0 = bytesRead.get()
        val tb = System.nanoTime()
        CorpusStream.domainCapGateBatch(drop, i.toLong, "url", kept, rej,
          store, perDomain = 5, buckets = 16, compactEvery = every,
          ttlBatches = ttl)
        val nKept = spark.read.parquet(s"$kept/batch=$i").count()
        keptTotal += nKept
        val storeRows = spark.read.parquet(store).count()
        maxStoreRows = math.max(maxStoreRows, storeRows)
        println(f"  trigger $i%2d: ${(bytesRead.get() - b0) / 1024}%6d KB read, " +
          f"${(System.nanoTime() - tb) / 1e9}%.1f s, $nKept kept, " +
          f"store rows $storeRows")
      }
      // within any ttl-window the per-domain admissions never exceed the
      // cap (the never-un-reject-within-horizon property, aggregated)
      val winViolations = spark.read.parquet(kept)
        .groupBy(col("domain"), floor(col("batch") / (ttl + 1)).as("win"))
        .count().filter(col("count") > 5 * 2).count() // cap x windows-per-win
      // store boundedness: <= domains x (live origins) + in-flight deltas
      val bound = 211L * (ttl + every + 1)
      println(f"DOMAINCAP-TTL SOAK: $nDrops drops -> $keptTotal kept, " +
        f"max store rows $maxStoreRows (bound $bound), " +
        f"window cap violations $winViolations (MUST be 0), " +
        f"wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()
      if (maxStoreRows > bound || winViolations > 0) sys.exit(1)
      return
    }
    if (mode == "curate") {
      // Drop-by-drop PRODUCTION curation (Curation.curateV2With): models
      // train ONCE on the first drop (the reference corpus); every later
      // drop is scored against the fixed models + the accumulated
      // exact-digest and signature stores, which grow only by kept rows.
      import graft.llm.{Curation, CurationArtifacts, Dedup}
      val exactStore = s"$work/exact_index"
      val sigStore = s"$work/sig_store"
      val verdicts = s"$work/verdicts"
      val ref = readDrop(0)
      val models = CurationArtifacts.build(ref, "doc_id", "text", "lang")
      // seed history with the reference corpus itself
      models.exactIndex.write.mode("overwrite").parquet(s"$exactStore/batch=0")
      models.signatures.write.mode("overwrite").parquet(s"$sigStore/batch=0")
      var keptTotal = ref.count()
      for (i <- 1 until nDrops) {
        val drop = readDrop(i)
        val b0 = bytesRead.get()
        val tb = System.nanoTime()
        val artifacts = models.copy(
          exactIndex = spark.read.parquet(exactStore)
            .groupBy("text_md5").agg(min("keep_id").as("keep_id")),
          signatures = spark.read.parquet(sigStore).drop("batch"))
        val v = Curation.curateV2With(drop, "doc_id", "text", artifacts,
          acceptLabels = Set("en", "de", "fr")).localCheckpoint()
        v.write.mode("overwrite").parquet(s"$verdicts/batch=$i")
        val keptIds = v.filter(col("keep")).select("doc_id")
        val keptDocs = drop.join(keptIds, Seq("doc_id"), "left_semi")
        keptDocs.select(md5(col("text")).as("text_md5"), col("doc_id").as("keep_id"))
          .write.mode("overwrite").parquet(s"$exactStore/batch=$i")
        Dedup.signatureTable(keptDocs, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$sigStore/batch=$i")
        val nKept = keptIds.count()
        keptTotal += nKept
        val reasons = v.groupBy("reason").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        println(f"  drop $i%2d: ${(bytesRead.get() - b0) / 1024}%6d KB read, " +
          f"${(System.nanoTime() - tb) / 1e9}%.1f s, $nKept kept [$reasons]")
      }
      println(f"CURATE SOAK: $nDrops drops, $total docs -> $keptTotal kept, " +
        f"wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()
      return
    }
    if (mode == "curatev3") {
      // Drop-by-drop STREAMING seven-gate curation
      // (CorpusStream.curateV3GateBatch): models train ONCE on the first
      // drop; every later drop is gated against the four bucketed stores
      // (digest index, domain counts, band postings, signatures) with
      // compaction every 4 batches. Watch the per-trigger bytes: each
      // trigger's store reads must be bounded by the DROP's touched
      // buckets, not the stream's lifetime.
      import graft.llm.CurationArtifacts
      val ref = readDrop(0)
      val models = CurationArtifacts.build(ref, "doc_id", "text", "lang")
      models.nbTokenModel.cache().count()
      models.nbPriors.cache().count()
      models.lmUnigrams.cache().count()
      models.lmBigrams.cache().count()
      val bench = ref.filter(pmod(col("doc_id"), lit(97L)) === 0L)
        .select("text").cache()
      var keptTotal = 0L
      for (i <- 0 until nDrops) {
        val drop = readDrop(i).withColumn("url", syntheticUrl)
        val b0 = bytesRead.get()
        val tb = System.nanoTime()
        CorpusStream.curateV3GateBatch(drop, i.toLong, "url",
          s"$work/kept", s"$work/rej", s"$work/digest", s"$work/domain",
          s"$work/postings", s"$work/sigs",
          models.nbTokenModel, models.nbPriors,
          models.lmUnigrams, models.lmBigrams, bench,
          acceptLabels = Set("en", "de", "fr"), perDomain = 50,
          compactEvery = 4)
        val v = spark.read.parquet(s"$work/rej/batch=$i")
          .select("doc_id", "reason")
          .unionByName(spark.read.parquet(s"$work/kept/batch=$i")
            .select("doc_id", "reason"))
        val nKept = v.filter(col("reason") === "kept").count()
        keptTotal += nKept
        val reasons = v.groupBy("reason").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        println(f"  trigger $i%2d: ${(bytesRead.get() - b0) / 1024}%6d KB read, " +
          f"${(System.nanoTime() - tb) / 1e9}%.1f s, $nKept kept [$reasons]")
      }
      val storeBytes = Seq("digest", "domain", "postings", "sigs").map { s =>
        val p = java.nio.file.Paths.get(s"$work/$s")
        val b = Files.walk(p).toArray.map(_.asInstanceOf[java.nio.file.Path].toFile)
          .filter(_.isFile).map(_.length).sum
        f"$s=${b / 1024} KB"
      }.mkString(" ")
      println(f"CURATEV3 SOAK: $nDrops drops, $total docs -> $keptTotal kept, " +
        f"stores [$storeBytes], wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()
      return
    }
    if (mode == "bucketed") {
      // drive batches directly (same body the sink wires to foreachBatch)
      // so each trigger's bytes are attributable
      val postings = s"$work/postings"
      for (i <- 0 until nDrops) {
        val drop = readDrop(i)
        val b0 = bytesRead.get()
        val tb = System.nanoTime()
        CorpusStream.nearDupGateBucketedBatch(drop, i.toLong, corpus, postings, store)
        println(f"  trigger $i%2d: ${(bytesRead.get() - b0) / 1024} KB read, " +
          f"${(System.nanoTime() - tb) / 1e9}%.1f s")
      }
    } else {
      for (i <- 0 until nDrops) {
        val drop = readDrop(i)
        val b0 = bytesRead.get()
        val tb = System.nanoTime()
        CorpusStream.nearDupGateBatch(drop, i.toLong, corpus, store,
          shingleK = 5, perms = 64, nBands = 16, rowsPerBand = 4, minJaccard = 0.5)
        println(f"  trigger $i%2d: ${(bytesRead.get() - b0) / 1024} KB read, " +
          f"${(System.nanoTime() - tb) / 1e9}%.1f s")
      }
      // the stream wiring itself (checkpoint + AvailableNow drain) is
      // exercised by CorpusStreamSpec; rerunning it here on the already-
      // landed batches would double-gate the same ids
      val _ = ckpt
    }
    val wall = (System.nanoTime() - t0) / 1e9

    if (mode == "bucketed") {
      // Isolated history-join probe: the per-trigger numbers above are
      // dominated by in-batch clustering I/O (checkpoint block reads), so
      // the store-layout claim — join bytes scale with the DROP against a
      // bucketed store, with the HISTORY against the single store — is
      // measured here on bare joins, no clustering in the loop.
      import graft.llm.Dedup
      val postings = s"$work/postings"
      val merged = s"$work/store_merged"
      spark.read.parquet(store).select("doc_id", "hs", "sig")
        .write.mode("overwrite").parquet(merged) // single-store twin
      for (probeN <- Seq(50, 500)) {
        // realistic drop: ~10% exact re-crawls of history, ~90% genuinely
        // new content (unique token streams -> no shared shingles)
        val probe = docs.orderBy(col("doc_id")).limit(probeN)
          .withColumn("doc_id", col("doc_id") + 1000000L) // fresh ids
          .withColumn("text",
            when(col("doc_id") % 10 === 0, col("text"))
              .otherwise(concat_ws(" ",
                transform(sequence(lit(1), lit(40)),
                  i => concat(lit("w"), (col("doc_id") * 100 + i).cast("string"))))))
        val shProbe = Dedup.signatureTable(probe, "doc_id", "text").localCheckpoint()
        def measure(label: String)(job: => Long): Unit = {
          val b0 = bytesRead.get()
          val t1 = System.nanoTime()
          val n = job
          println(f"  probe $probeN%4d docs, $label%-12s: " +
            f"${(bytesRead.get() - b0) / 1024}%6d KB read, " +
            f"${(System.nanoTime() - t1) / 1e9}%.2f s, $n dup-hits")
        }
        measure("single-store") {
          val hist = spark.read.parquet(merged)
            .select(col("doc_id").as("hist_id"), col("hs"), col("sig"))
          Dedup.minhashIncrementalPairsFromSignatures(
            shProbe.withColumnRenamed("doc_id", "new_id"), hist)
            .select("new_id").distinct().count()
        }
        measure("bucketed") {
          // the production lookup, under a batch id the store never held
          CorpusStream.bucketedHistDupIds(spark, shProbe, nDrops.toLong, postings,
            store, nBands = 16, rowsPerBand = 4, minJaccard = 0.5,
            postingsBuckets = 64, sigBuckets = 64).count()
        }
      }
    }

    val kept = CorpusStream.readKept(spark, corpus).count()
    val storeRows = spark.read.parquet(store).count()
    def parquetBytes(dir: String): Long =
      Files.walk(java.nio.file.Paths.get(dir)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(Files.size).sum
    val storeBytes = parquetBytes(store)
    val postingsLine =
      if (mode == "bucketed")
        f", postings ${parquetBytes(s"$work/postings") / 1024} KB"
      else ""
    println(f"GATE SOAK[$mode]: $nDrops drops, $total docs -> $kept kept " +
      f"(${total - kept} near-dups gated), wall $wall%.1f s " +
      f"(${wall / nDrops}%.2f s/drop), store $storeRows rows / " +
      f"${storeBytes / 1024} KB (${storeBytes.toDouble / math.max(1, storeRows)}%.0f B/doc)" +
      postingsLine)
    spark.stop()
  }
}
