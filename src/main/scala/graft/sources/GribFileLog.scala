package graft.sources

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s.jackson.{JsonMethods, Serialization}

/** One file admitted into the GRIB stream: where it was, when it was
  * modified (drives optional `maxFileAge` expiry), and which micro-batch
  * ingested it (so a compact snapshot can still answer "what did batch N
  * read" during restart replay). */
private[sources] final case class GribFileEntry(
    path: String, modTime: Long, batchId: Long)

/** Compacted seen-file log for [[GribSource]]'s micro-batch stream — the
  * same shape as Spark's built-in file stream source log. The checkpointed
  * OFFSET is just a batch id; the file sets live here, under the stream's
  * checkpoint directory:
  *
  *  - batch `N` not on a compaction point → delta file `N` holding only
  *    the files ADMITTED in batch N;
  *  - batch `N` on a compaction point (every `compactInterval` batches)
  *    → snapshot file `N.compact` holding the FULL seen set, each entry
  *    tagged with its original batch id; older log files beyond one
  *    compact generation are deleted.
  *
  * So the engine's offset WAL stays O(1) per entry forever, and this log's
  * size stays bounded — the latest snapshot, fewer than `compactInterval`
  * deltas after it, and the one earlier generation `add` retains for
  * restart replay — so a stream can outlive years of drops. Writes are atomic (temp + rename) and
  * idempotent (a crash between the log write and the engine's offset WAL
  * write re-runs `latestOffset`, which overwrites the same batch id —
  * safe, because that batch id was never WAL-committed). */
private[sources] class GribFileLog(
    logDir: Path, conf: SerializableHadoopConf, compactInterval: Int) {
  require(compactInterval >= 1,
    s"compactInterval must be >= 1, got $compactInterval")

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  private val fs: FileSystem = FileSystem.get(logDir.toUri, conf.value)
  fs.mkdirs(logDir)

  /** The interval the log was CREATED with wins over the configured one:
    * compact snapshots are located by id arithmetic over file names, so
    * reinterpreting an existing layout under a different interval would
    * look for snapshots that don't exist (or trip the contiguity check)
    * and brick the checkpoint. Persisted in `_meta` on first use; a
    * changed option takes effect only with a fresh checkpoint (warned). */
  private val effectiveInterval: Int = {
    val metaFile = new Path(logDir, "_meta")
    if (fs.exists(metaFile)) {
      val in = fs.open(metaFile)
      val persisted =
        try (JsonMethods.parse(new String(in.readAllBytes(), UTF_8))
          \ "compactInterval").extract[Int]
        finally in.close()
      if (persisted != compactInterval)
        org.slf4j.LoggerFactory.getLogger(classOf[GribFileLog]).warn(
          s"fileLogCompactInterval=$compactInterval ignored: the log at " +
            s"$logDir was created with compactInterval=$persisted, which " +
            "governs its on-disk layout; restart with a fresh checkpoint " +
            "to change it")
      persisted
    } else {
      writeBytesAtomic(metaFile,
        Serialization.write(Map("compactInterval" -> compactInterval)).getBytes(UTF_8))
      compactInterval
    }
  }

  private def isCompactId(id: Long): Boolean = (id + 1) % effectiveInterval == 0
  private def fileFor(id: Long): Path =
    new Path(logDir, if (isCompactId(id)) s"$id.compact" else id.toString)

  /** Batch ids present in the log, ascending. */
  def listIds(): Seq[Long] = {
    val sts =
      try fs.listStatus(logDir)
      catch { case _: FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    sts.toSeq
      .map(_.getPath.getName)
      .filterNot(_.startsWith(".")) // in-flight temp files
      .flatMap(n => n.stripSuffix(".compact").toLongOption)
      .sorted
  }

  private def read(p: Path): Seq[GribFileEntry] = {
    val in = fs.open(p)
    try JsonMethods.parse(new String(in.readAllBytes(), UTF_8))
      .extract[List[GribFileEntry]]
    finally in.close()
  }

  private def writeAtomic(p: Path, entries: Seq[GribFileEntry]): Unit =
    writeBytesAtomic(p, Serialization.write(entries).getBytes(UTF_8))

  /** Overwriting write: temp file + `FileContext.rename(OVERWRITE)`.
    * Atomic on HDFS (a single NameNode op). On the local filesystem
    * Hadoop's default `renameInternal(overwrite)` still deletes then
    * renames, so a crash window remains there — harmless for THIS log,
    * because an overwrite only ever happens when re-writing a batch id
    * that was never WAL-committed (`latestOffset` re-runs and re-writes
    * the same id; a missing file is simply re-created), and migration
    * repair handles its own torn states explicitly. On object stores the
    * log inherits the store's rename semantics, same as Spark's own
    * HDFSMetadataLog — run checkpoints on a real filesystem there. */
  private lazy val fc = org.apache.hadoop.fs.FileContext.getFileContext(
    logDir.toUri, conf.value)

  private def writeBytesAtomic(p: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Every entry seen up to and including `batchId` (−1 → none): the
    * latest snapshot at or before it, plus the deltas after that. The log
    * must be contiguous over that range — a hole means a corrupted
    * checkpoint and fails loudly rather than silently re-ingesting. */
  def seenUpTo(batchId: Long): Seq[GribFileEntry] = {
    if (batchId < 0) return Nil
    val ids = listIds().filter(_ <= batchId)
    val base = ids.filter(isCompactId).maxOption
    val from = base.getOrElse(-1L)
    val expect = (from + 1) to batchId
    val have = ids.filter(_ > from)
    require(have == expect,
      s"GRIB stream file log at $logDir is not contiguous: expected batch " +
        s"files ${expect.mkString(",")} after snapshot $from, found ${have.mkString(",")}")
    base.map(id => read(fileFor(id))).getOrElse(Nil) ++
      have.flatMap(id => read(fileFor(id)))
  }

  /** The files admitted in exactly batch `batchId` — restart replay of a
    * WAL-logged but uncommitted batch must re-read the identical set.
    * Retention keeps one full compact generation, and replay only ever
    * asks for batches after the last committed one — a miss therefore
    * means a corrupted or foreign checkpoint, and says so instead of
    * surfacing a bare FileNotFoundException. */
  def filesForBatch(batchId: Long): Seq[GribFileEntry] =
    try read(fileFor(batchId)).filter(_.batchId == batchId)
    catch {
      case e: FileNotFoundException => throw new IllegalStateException(
        s"GRIB stream file log at $logDir has no batch file for batch " +
          s"$batchId (present ids: ${listIds().mkString(", ")}; retention " +
          s"is one compact generation = $effectiveInterval batches before " +
          "the latest snapshot). A replay older than retention means the " +
          "checkpoint is corrupted or belongs to a different stream.", e)
    }

  // ---- legacy-offset migration support ----------------------------------
  // (see GribMicroBatchStream.deserializeOffset: checkpoints written by the
  // pre-side-log offset format — each offset a full file list — are seeded
  // into this log instead of bricking the stream)

  private val legacyMarker = new Path(logDir, "_legacy")

  /** True iff this log was seeded from a legacy full-file-list offset. */
  def legacyMigrated: Boolean = fs.exists(legacyMarker)

  def markLegacyMigrated(): Unit =
    writeBytesAtomic(legacyMarker, """{"migrated":true}""".getBytes(UTF_8))

  /** Overwrite the two migration batches after the engine reveals the
    * committed/uncommitted split: batch 0 ← the committed prefix, batch 1
    * ← the uncommitted tail (entries must already carry batch ids 0/1).
    * Honors the snapshot layout if an id lands on a compaction point. */
  def rewriteMigrationSplit(
      prefix: Seq[GribFileEntry], tail: Seq[GribFileEntry]): Unit = {
    require(legacyMigrated, "rewriteMigrationSplit outside a legacy migration")
    writeAtomic(fileFor(0L), prefix)
    writeAtomic(fileFor(1L), if (isCompactId(1L)) prefix ++ tail else tail)
  }

  /** Record batch `batchId` admitting `newFiles`. On a compaction point
    * the full seen set is snapshotted instead; entries with
    * `modTime < expireBefore` are dropped from the snapshot (maxFileAge
    * expiry — the admission filter excludes the same files, so an expired
    * path still in the directory is never re-ingested). */
  def add(batchId: Long, newFiles: Seq[GribFileEntry], expireBefore: Long): Unit = {
    if (isCompactId(batchId)) {
      val all = seenUpTo(batchId - 1) ++ newFiles
      val kept =
        if (expireBefore > Long.MinValue)
          all.filter(e => e.modTime >= expireBefore || e.batchId == batchId)
        else all
      writeAtomic(fileFor(batchId), kept)
      // retain one full compact generation before this snapshot (restart
      // replay only ever needs batches after the last committed one, which
      // is never that far back); everything older is superseded
      val keepFrom = batchId - effectiveInterval
      listIds().filter(_ < keepFrom).foreach(id => fs.delete(fileFor(id), false))
    } else writeAtomic(fileFor(batchId), newFiles)
  }
}
