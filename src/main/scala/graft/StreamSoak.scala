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
  *    checkpoint must hold one snapshot + at most `compactInterval`
  *    deltas, and its byte size is printed (steady-state boundedness).
  *
  * Usage (glob quoting: the drop glob is `&lt;dir&gt;/&#42;.grib2`):
  *   sbt 'runMain graft.StreamSoak "/tmp/glofas_week/&#42;.grib2"
  *     /tmp/soak_ckpt 10 10 [indexCacheDir]'
  * args: <dropGlob> <checkpointDir> [maxFilesPerTrigger=10]
  *       [stopAfterBatches=10] [indexCacheDir]
  */
object StreamSoak {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StreamSoak <dropGlob> <ckptDir> [maxFilesPerTrigger] [stopAfter] [indexCacheDir]")
    val glob = args(0)
    val ckpt = args(1)
    val maxFiles = if (args.length > 2) args(2).toInt else 10
    val stopAfter = if (args.length > 3) args(3).toInt else 10
    val idxCache = if (args.length > 4) Some(args(4)) else None
    val spark = LocalSession()

    // batchId → (rows, valueSum): foreachBatch replays the last
    // un-committed batch on restart, so accumulation keys on batch id —
    // a replay overwrites with identical numbers instead of double-counting
    val perBatch = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]()

    def runPhase(label: String, stopAfterBatches: Option[Int]): (Double, Int) = {
      val opts = Map("fileLogCompactInterval" -> "10") ++
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

    // compacted seen-file log: bounded = one snapshot + <= interval deltas
    val logDir = Paths.get(ckpt, "sources", "0", "filelog")
    if (Files.isDirectory(logDir)) {
      val files = Files.list(logDir).iterator().asScala.toSeq
        .filterNot(_.getFileName.toString.startsWith("."))
      val compacts = files.count(_.getFileName.toString.endsWith(".compact"))
      val bytes = files.map(f => Files.size(f)).sum
      println(s"file log: ${files.size} files ($compacts snapshots), $bytes bytes")
    } else println(s"file log dir missing at $logDir")
    println(s"driver peak RSS ${ScaleSmoke.peakRssMb()} MB")
    spark.stop()
  }
}
