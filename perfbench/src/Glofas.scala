package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.config.FloodConfig
import graft.model.Schemas
import graft.pipeline.{ForecastPipeline, Sinks}
import graft.transforms._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `glofas_day`: the paper's daily job over a generated GRIB2 drop — raw
  * GRIB glob → upstream mask → detailed + summary forecasts → the
  * z-ordered serving Parquet — followed by seeded serving lookups against
  * what the day just wrote. */
object Glofas extends Workload {
  final case class Lookup(latMin: Double, latMax: Double, lonMin: Double, lonMax: Double,
      rows: Long)
  final case class Reference(cells: Long, summaryRows: Long, detailedRows: Long,
      exceed: Map[Int, Long], lookups: Seq[Lookup])
  final case class State(glob: String, dims: String, ref: Reference)

  val cfg = FloodConfig()
  val MinDays = 1

  def readReference(path: String): Reference = {
    val j = new ObjectMapper().readTree(new java.io.File(path))
    def l(n: JsonNode, k: String) = n.get(k).asLong()
    def d(n: JsonNode, k: String) = n.get(k).asDouble()
    val it = j.get("lookups").elements()
    val lookups = mutable.ArrayBuffer.empty[Lookup]
    while (it.hasNext) {
      val n = it.next()
      lookups += Lookup(d(n, "lat_min"), d(n, "lat_max"), d(n, "lon_min"), d(n, "lon_max"),
        l(n, "rows"))
    }
    Reference(l(j, "cells"), l(j, "summary_rows"), l(j, "detailed_rows"),
      cfg.thresholdYears.map(y => y -> l(j, s"exceed_${y}y")).toMap, lookups.toSeq)
  }

  private def uparea(spark: SparkSession, dims: String): DataFrame =
    spark.read.schema(Schemas.upstreamArea).parquet(s"$dims/uparea.parquet")

  private def thresholds(spark: SparkSession, dims: String): DataFrame =
    ForecastPipeline.readThresholds(spark, s"$dims/thresholds.parquet", cfg)

  /** The day as a user runs it: one call per public function. */
  def day(spark: SparkSession, glob: String, dims: String, out: String, cores: Int,
      tracer: Tracer, iter: Int): Unit = {
    val forecasts = tracer.span("sources.read_grib", iter)(
      ForecastPipeline.readGrib(spark, glob, cfg, numPartitions = cores))
    val masked = tracer.span("transforms.upstream_filter", iter)(
      UpstreamFilter(forecasts, uparea(spark, dims), cfg.upstreamThreshold, cfg.resolution,
        cfg.precision))
    val outs = tracer.span("pipeline.run", iter)(
      ForecastPipeline.run(masked, thresholds(spark, dims), cfg))
    tracer.span("pipeline.write", iter)(
      ForecastPipeline.write(outs, s"$out/detailed", s"$out/summary"))
  }

  /** Checks a written day against the numpy reference (untimed). */
  def check(spark: SparkSession, out: String, ref: Reference, m: Metrics): Unit = {
    val det = spark.read.parquet(s"$out/detailed")
    val aggs = count(lit(1)) +: cfg.thresholdYears.map(y =>
      sum(round(col(s"p_above_${y}y") * 51).cast("long")))
    val r = det.agg(aggs.head, aggs.tail: _*).head()
    m.check(r.getLong(0) == ref.detailedRows, s"$out: ${r.getLong(0)} detailed rows, " +
      s"expected ${ref.detailedRows}")
    cfg.thresholdYears.zipWithIndex.foreach { case (y, i) =>
      m.check(r.getLong(i + 1) == ref.exceed(y), s"$out: ${y}y exceedances ${r.getLong(i + 1)}, " +
        s"expected ${ref.exceed(y)}")
    }
    val n = spark.read.parquet(s"$out/summary").count()
    m.check(n == ref.summaryRows, s"$out: $n summary rows, expected ${ref.summaryRows}")
  }

  def lookup(spark: SparkSession, out: String, q: Lookup): Long =
    spark.read.parquet(s"$out/detailed")
      .filter(col("latitude").between(q.latMin, q.latMax) &&
        col("longitude").between(q.lonMin, q.lonMax))
      .collect().length.toLong

  def setup(spark: SparkSession, a: Args): State =
    State(s"${a.inputs}/grib/*.grib2", a.inputs, readReference(s"${a.inputs}/reference.json"))

  /** One day and a few lookups, once: the first day in a JVM runs about
    * 30% slower than the next. */
  override def warmUp(spark: SparkSession, a: Args, s: State): State = {
    val warm = s"${a.work}/warmup"
    day(spark, s.glob, s.dims, warm, a.cores, new Tracer(spark.sparkContext, false), 0)
    s.ref.lookups.take(3).foreach(lookup(spark, warm, _))
    s
  }

  def measure(spark: SparkSession, a: Args, s: State, tracer: Tracer, ops: Ops,
      m: Metrics): Unit = {
    val days = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[Double]
    var returned = 0L
    val t0 = System.nanoTime()
    var d = 0
    while (d < MinDays || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val out = s"${a.work}/day$d${if (tracer.enabled) "t" else ""}"
      val ok = tracer.span("pipeline.day", d) {
        ops.timed(s"day $d")(day(spark, s.glob, s.dims, out, a.cores, tracer, d))
      }
      if (ok.isDefined) {
        days += ops.latenciesMs.last / 1000
        System.err.println(f"[perfbench] day $d: ${days.last}%.3f s")
        check(spark, out, s.ref, m)
        s.ref.lookups.foreach { q =>
          tracer.span("pipeline.lookup", d)(ops.timed("lookup")(lookup(spark, out, q))).foreach { n =>
            lookups += ops.latenciesMs.last
            returned += n
            m.check(n == q.rows, s"$out: lookup $q returned $n rows")
          }
        }
      }
      d += 1
    }
    m.put("pass_s", Stats.median(days.toSeq), "s")
    m.put("op_p50_ms", Stats.quantile(lookups.toSeq, 0.5), "ms")
    m.put("op_p75_ms", Stats.quantile(lookups.toSeq, 0.75), "ms")
    m.put("__measured_s", (System.nanoTime() - t0) / 1e9, "s")
    if (tracer.enabled) staged(spark, a, s, tracer, ops, m, d, returned)
  }

  /** The day again with every stage forced at the program's own entry
    * points and cached for the next (the per-layer numbers of the traced
    * run). `sources.grib_decode` forces the raw GRIB scan alone, value
    * column included; `sources.read_grib` forces `readGrib`, which scans
    * again and normalises, so `transforms.normalize_s` is the difference.
    * `transforms.detailed` forces `run(...).detailed`: the threshold
    * aggregation that `run` caches, plus the semi-join to the cells that
    * survive the relevance filter, which needs one summary aggregation.
    * `transforms.summary` then forces `run(...).summary` over the cached
    * aggregation. The writes split `write` into its two `Sinks` calls, in
    * its order, over the cached outputs. */
  private def staged(spark: SparkSession, a: Args, s: State, tracer: Tracer, ops: Ops,
      m: Metrics, iter: Int, returned: Long): Unit = {
    val out = s"${a.work}/staged"
    val st = mutable.LinkedHashMap.empty[String, Double]
    def stage[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = tracer.span(name, iter)(f)
      st(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    def forced(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val done = ops.timed("staged day") {
      tracer.span("pipeline.staged_day", iter) {
        stage("sources.grib_index")(graft.sources.GribSource.distinctStepHours(s.glob))
        stage("sources.grib_decode")(spark.read
          .format(classOf[graft.sources.GribSource].getName)
          .option("path", s.glob).option("numPartitions", a.cores.toLong)
          .option("partitionByStep", "true").load()
          .agg(count(lit(1)), sum(col("value"))).collect())
        val norm = stage("sources.read_grib")(
          forced(ForecastPipeline.readGrib(spark, s.glob, cfg, numPartitions = a.cores)))
        val up = stage("transforms.upstream")(forced(UpstreamFilter(norm, uparea(spark, s.dims),
          cfg.upstreamThreshold, cfg.resolution, cfg.precision)))
        norm.unpersist()
        val outs = ForecastPipeline.run(up, thresholds(spark, s.dims), cfg)
        stage("transforms.detailed")(forced(outs.detailed))
        stage("transforms.summary")(forced(outs.summary))
        up.unpersist()
        stage("pipeline.write_detailed")(Sinks.writeZOrderedLocal(outs.detailed, s"$out/detailed"))
        stage("pipeline.write_summary")(Sinks.writeZOrdered(outs.summary, s"$out/summary"))
        outs.release(); outs.detailed.unpersist(); outs.summary.unpersist()
      }
    }
    if (done.isDefined) check(spark, out, s.ref, m)
    tracer.drain()
    val sp = tracer.allSpans
    def bytesOf(dir: String): Double = {
      val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      files.filter(_.getName.endsWith(".parquet")).map(_.length.toDouble).sum
    }
    val lastDay = s"${a.work}/day${iter - 1}t"
    val lookupC = tracer.countersOf(_.name == "pipeline.lookup")
    val nLookups = sp.count(_.name == "pipeline.lookup")
    m.put("sources.grib_index_ms", st.getOrElse("sources.grib_index", 0.0) * 1000, "ms")
    m.put("sources.grib_decode_s", st.getOrElse("sources.grib_decode", 0.0), "s")
    m.put("sources.grib_cells_per_s", s.ref.cells / st.getOrElse("sources.grib_decode", 1.0), "1/s")
    m.put("transforms.normalize_s",
      st.getOrElse("sources.read_grib", 0.0) - st.getOrElse("sources.grib_decode", 0.0), "s")
    m.put("transforms.upstream_s", st.getOrElse("transforms.upstream", 0.0), "s")
    m.put("transforms.detailed_s", st.getOrElse("transforms.detailed", 0.0), "s")
    m.put("transforms.detailed_shuffle_bytes",
      tracer.countersOf(_.name == "transforms.detailed").shuffleWrite.get.toDouble, "bytes")
    m.put("transforms.summary_s", st.getOrElse("transforms.summary", 0.0), "s")
    m.put("pipeline.write_detailed_s", st.getOrElse("pipeline.write_detailed", 0.0), "s")
    m.put("pipeline.write_summary_s", st.getOrElse("pipeline.write_summary", 0.0), "s")
    m.put("pipeline.output_bytes", bytesOf(s"$lastDay/detailed") + bytesOf(s"$lastDay/summary"),
      "bytes")
    m.put("pipeline.lookup_input_bytes", lookupC.inputBytes.get.toDouble / math.max(1, nLookups),
      "bytes")
    m.put("pipeline.lookup_scan_ratio", lookupC.inputRecords.get / math.max(1.0, returned), "ratio")
    // readGrib indexes and decodes again, so the stages from it on make up the day
    m.put("__stage_sum_s", st.values.sum - st.getOrElse("sources.grib_index", 0.0) -
      st.getOrElse("sources.grib_decode", 0.0), "s")
  }
}
