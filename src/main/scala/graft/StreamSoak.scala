package graft

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.streaming.ForecastStream

/** Dev tool: multi-day GRIB backfill soak for the streaming source (not
  * part of the driver contract). Generates nothing itself — point it at a
  * `tools/make_glofas_day.py <dir> <ni> <nj> <days>` drop directory.
  *
  * What it pins (the soak triad the per-batch specs can't):
  *  - WALL: drain a week of files through `ForecastStream.readGrib` in
  *    `maxFilesPerTrigger`-bounded micro-batches, decoding every value
  *    (per-batch count + sum aggregation, accumulated per batch id);
  *  - RECOVERY: the query is STOPPED mid-backfill after `stopAfter`
  *    batches and restarted on the same checkpoint — the second phase
  *    must drain exactly the remaining files, with replayed batch ids
  *    deduplicated by the accumulator (foreachBatch is at-least-once);
  *  - FILE LOG: after the drain, the compacted seen-file log under the
  *    checkpoint must hold at most its latest snapshot plus
  *    `compactInterval` deltas, beyond the one earlier generation the log
  *    retains for replay (steady-state boundedness); its byte size is
  *    printed.
  *
  * It exits 1 at once when the drop's files make no more than
  * `stopAfter` batches of `maxFilesPerTrigger` (phase 1 could never stop
  * mid-backfill). After the drain it exits 1 unless the drained rows
  * equal one batch read of the same glob (value sum within relative
  * 1e-9), every batch id from 0 to the last landed in the accumulator,
  * and the file log is within that bound.
  *
  * Usage (glob quoting: the drop glob is `&lt;dir&gt;/&#42;.grib2`):
  *   sbt 'runMain graft.StreamSoak "/tmp/glofas_week/&#42;.grib2"
  *     /tmp/soak_ckpt 10 10 [indexCacheDir]'
  * args: <dropGlob> <checkpointDir> [maxFilesPerTrigger=10]
  *       [stopAfterBatches=10] [indexCacheDir]
  */
object StreamSoak {

  private val FileLogCompactInterval = 10

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StreamSoak <dropGlob> <ckptDir> [maxFilesPerTrigger] [stopAfter] [indexCacheDir]")
    val glob = args(0)
    val ckpt = args(1)
    val maxFiles = if (args.length > 2) args(2).toInt else 10
    val stopAfter = if (args.length > 3) args(3).toInt else 10
    val idxCache = if (args.length > 4) Some(args(4)) else None
    // phase 1 waits for `stopAfter` batches, so the drop must make more:
    // with fewer the query idles and phase 1 never returns
    val globPath = new org.apache.hadoop.fs.Path(glob)
    val files = Option(globPath.getFileSystem(new org.apache.hadoop.conf.Configuration())
      .globStatus(globPath)).fold(0)(_.count(_.isFile))
    val batches = (files + maxFiles - 1) / maxFiles
    if (batches <= stopAfter) {
      System.err.println(s"STREAM SOAK FAILED: the drop's $files files make $batches " +
        s"batches at $maxFiles files per trigger, not more than stopAfter = $stopAfter, " +
        "so phase 1 would never stop mid-backfill")
      sys.exit(1)
    }
    val spark = LocalSession()

    // batchId → (rows, valueSum): foreachBatch replays the last
    // un-committed batch on restart, so accumulation keys on batch id —
    // a replay overwrites with identical numbers instead of double-counting
    val perBatch = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]()

    def runPhase(label: String, stopAfterBatches: Option[Int]): (Double, Int) = {
      val opts = Map("fileLogCompactInterval" -> FileLogCompactInterval.toString) ++
        idxCache.map("indexCacheDir" -> _)
      val stream = ForecastStream.readGrib(spark, glob,
        numPartitions = LocalSession.cpus, maxFilesPerTrigger = maxFiles,
        options = opts)
      val t0 = System.nanoTime()
      val batchesBefore = perBatch.size()
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val r = df.agg(count(lit(1)), sum(col("value"))).collect()(0)
          perBatch.put(id, (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
          ()
        }
        .start()
      stopAfterBatches match {
        case Some(n) =>
          // stop mid-backfill once n batches have landed in the accumulator
          while (q.isActive && perBatch.size() < n) Thread.sleep(100)
          q.stop()
        case None =>
          q.processAllAvailable()
          q.stop()
      }
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val n = perBatch.size() - batchesBefore
      println(f"$label%-28s $wall%7.2f s  $n%3d new batches")
      (wall, n)
    }

    val (w1, n1) = runPhase("phase 1 (to mid-backfill)", Some(stopAfter))
    val (w2, n2) = runPhase("phase 2 (recovery drain)", None)

    val rows = perBatch.values().asScala.map(_._1).sum
    val valueSum = perBatch.values().asScala.map(_._2).sum
    println(f"total: ${perBatch.size()} batches, $rows%,d rows, value sum $valueSum%.2f")

    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, failure: => String): Unit = if (!ok) failures += failure
    // the drain must see every file once: one batch read of the same glob
    val batch = spark.read.format(classOf[graft.sources.GribSource].getName)
      .options(idxCache.map("indexCacheDir" -> _).toMap)
      .option("path", glob).option("numPartitions", LocalSession.cpus.toString).load()
      .agg(count(lit(1)), coalesce(sum(col("value")), lit(0.0))).collect()(0)
    val (batchRows, batchSum) = (batch.getLong(0), batch.getDouble(1))
    println(f"batch read: $batchRows%,d rows, value sum $batchSum%.2f")
    check(rows == batchRows, s"streamed $rows rows, the batch read $batchRows")
    check(math.abs(valueSum - batchSum) <= 1e-9 * math.max(math.abs(batchSum), 1.0),
      s"streamed value sum $valueSum, the batch read $batchSum")
    val ids = perBatch.keySet().asScala.toSet
    val missing = (0L to ids.maxOption.getOrElse(-1L)).filterNot(ids)
    check(ids.nonEmpty && missing.isEmpty, s"batch ids missing: ${missing.mkString(", ")}")

    // compacted seen-file log: the latest snapshot, at most `interval`
    // deltas after it, and one earlier generation retained for replay
    val logDir = Paths.get(ckpt, "sources", "0", "filelog")
    if (Files.isDirectory(logDir)) {
      val files = Files.list(logDir).iterator().asScala.toSeq
        .filterNot(_.getFileName.toString.startsWith("."))
      val logIds = files.map(_.getFileName.toString)
        .flatMap(n => n.stripSuffix(".compact").toLongOption.map(_ -> n.endsWith(".compact")))
      val latest = logIds.filter(_._2).map(_._1).maxOption.getOrElse(-1L)
      println(s"file log: ${logIds.size} files (${logIds.count(_._2)} snapshots), " +
        s"${files.map(f => Files.size(f)).sum} bytes")
      check(logIds.forall(_._1 >= latest - FileLogCompactInterval),
        s"file log keeps entries older than one generation before snapshot $latest")
      check(logIds.count { case (id, snap) => !snap && id > latest } <= FileLogCompactInterval,
        s"file log holds more than $FileLogCompactInterval deltas after snapshot $latest")
    } else check(ok = false, s"file log dir missing at $logDir")
    println(s"driver peak RSS ${ScaleSmoke.peakRssMb()} MB")
    spark.stop()
    failures.foreach(f => System.err.println(s"STREAM SOAK FAILED: $f"))
    if (failures.nonEmpty) sys.exit(1)
    println("STREAM SOAK OK")
  }
}
