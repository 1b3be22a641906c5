package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Arguments the Python runner passes to the JVM. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    inputs: String,
    work: String,
    genSeconds: Seq[Double],
    cores: Int,
    out: String)

/** Timed operations with strict failure accounting: an operation that
  * throws is counted as attempted and failed, and its time enters no
  * latency sample. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val latenciesMs = mutable.ArrayBuffer.empty[Double]

  def timed[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      latenciesMs += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }
}

/** Named metric values of one run, in the order they were set. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  val problems = mutable.ArrayBuffer.empty[String]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
}

object Stats {
  /** Linear-interpolated quantile (the `inclusive` method of Python's
    * statistics.quantiles); NaN when every operation failed. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One workload: a set-up that the runner repeats, and a measured phase. */
trait Workload {
  type State
  def setup(spark: SparkSession, a: Args): State
  /** Untimed work after the last set-up that lets lazy initialisation and
    * the JIT settle before measuring. */
  def warmUp(spark: SparkSession, a: Args, s: State): State = s
  def measure(spark: SparkSession, a: Args, s: State, tracer: Tracer, ops: Ops, m: Metrics): Unit
}

object Main {
  val SetupRepeats = 3

  val EndToEnd = Seq("setup_s", "pass_s", "op_p50_ms", "op_p75_ms")

  /** Every per-layer metric a traced run prints, with its unit. */
  val PerLayer: Seq[(String, String)] =
    Seq("sources.grib_index_ms" -> "ms", "sources.grib_decode_s" -> "s",
      "sources.grib_cells_per_s" -> "1/s",
      "transforms.upstream_s" -> "s", "transforms.normalize_s" -> "s",
      "transforms.detailed_s" -> "s", "transforms.detailed_shuffle_bytes" -> "bytes",
      "transforms.summary_s" -> "s",
      "pipeline.write_detailed_s" -> "s", "pipeline.write_summary_s" -> "s",
      "pipeline.output_bytes" -> "bytes", "pipeline.lookup_input_bytes" -> "bytes",
      "pipeline.lookup_scan_ratio" -> "ratio") ++
    Registry.Families.map(f => s"queries.${f}_s" -> "s") ++
    Seq("queries.short_n" -> "count", "queries.short_s" -> "s",
      "queries.ms_per_job" -> "ms", "queries.jobs_per_query_p50" -> "count") ++
    Registry.Watch.flatMap { q =>
      val n = q.stripPrefix("q_")
      Seq(s"queries.${n}_ms" -> "ms", s"queries.${n}_jobs" -> "count")
    } ++
    Probes.Kernels.map(k => s"functions.${k}_ns_per_row" -> "ns") ++
    Seq("llm.artifacts_build_s" -> "s", "llm.kept_frac" -> "ratio",
      "llm.jobs_per_trigger" -> "count",
      "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
      "streaming.input_bytes_first" -> "bytes", "streaming.input_bytes_last" -> "bytes",
      "streaming.store_bytes_per_doc" -> "bytes") ++
    SparkCounters.Names ++
    Seq("jvm.peak_rss_mb" -> "MB", "trace.overhead_frac" -> "ratio",
      "trace.stage_sum_frac" -> "ratio", "host.canary_ms" -> "ms")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("inputs"), kv("work"), kv("gen-s").split(",").map(_.toDouble).toSeq,
      kv("cores").toInt, kv("out"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String): Workload = name match {
    case "glofas_day" => Glofas
    case "registry_sf0.01" => Registry
    case "curate_stream" => Curate
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** Wall of a fixed trivial plan: a host-speed canary, context only. */
  def canaryMs(spark: SparkSession, cores: Int): Double = (1 to 5).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 2000000L, 1L, cores).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Relative cost of tracing one job: the canary plan run alternately
    * with spans and listener attribution on and off. */
  def tracingOverhead(spark: SparkSession, cores: Int, tracer: Tracer): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      tracer.span("trace.canary", -1)(spark.range(0L, 200000L, 1L, cores).selectExpr("sum(id % 7)")
        .collect())
      (System.nanoTime() - t0) / 1e6
    }
    val pairs = (1 to 15).map { _ =>
      tracer.enabled = false
      val off = once()
      tracer.enabled = true
      (off, once())
    }
    Stats.median(pairs.map(_._2)) / Stats.median(pairs.map(_._1)) - 1
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workload(a.workload)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var state: w.State = null.asInstanceOf[w.State]
    for (i <- 0 until SetupRepeats) {
      // the first set-up includes the JVM's own start
      val t0 = if (i == 0) System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
        else System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a)
      state = w.setup(spark, a)
      setups += (System.nanoTime() - t0) / 1e9 + a.genSeconds(i % a.genSeconds.size)
    }
    val t1 = System.nanoTime()
    state = w.warmUp(spark, a, state)
    System.err.println(f"[perfbench] set-ups ${setups.mkString(" ")} s, warm-up ${(System.nanoTime() - t1) / 1e9}%.2f s")
    val ops = new Ops
    val m = new Metrics
    val tracer = new Tracer(spark.sparkContext, enabled = false)
    if (!a.trace) {
      w.measure(spark, a, state, tracer, ops, m)
      m.put("setup_s", Stats.median(setups.toSeq), "s")
      EndToEnd.foreach(k => require(m.values.contains(k), s"workload reported no $k"))
      m.values.filterInPlace((k, _) => EndToEnd.contains(k))
    } else {
      tracer.enabled = true
      spark.sparkContext.addSparkListener(tracer.listener)
      spark.streams.addListener(tracer.queryListener)
      w.measure(spark, a, state, tracer, ops, m)
      tracer.drain()
      SparkCounters.put(m, tracer.total, m.values("__measured_s")._1, a.cores)
      m.put("trace.overhead_frac", tracingOverhead(spark, a.cores, tracer), "ratio")
      m.put("trace.stage_sum_frac",
        m.values.get("__stage_sum_s").map(_._1).getOrElse(0.0) / m.values("pass_s")._1, "ratio")
      m.put("host.canary_ms", canaryMs(spark, a.cores), "ms")
      m.put("jvm.peak_rss_mb", peakRssMb(), "MB")
      tracer.dump(s"${a.work}/spans.jsonl")
      // a layer this workload never calls reads zero
      PerLayer.foreach { case (k, unit) => if (!m.values.contains(k)) m.put(k, 0.0, unit) }
      m.values.filterInPlace((k, _) => PerLayer.exists(_._1 == k))
    }
    spark.stop()
    writeResult(a, ops, m)
    if (m.problems.nonEmpty || ops.failed > 0) sys.exit(3)
  }

  def writeResult(a: Args, ops: Ops, m: Metrics): Unit = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val metrics = m.values.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val problems = m.problems.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'") + "\"")
      .mkString("[", ", ", "]")
    val correct = m.problems.isEmpty && ops.failed == 0
    val json = s"""{"correct": $correct, "attempted": ${ops.attempted}, "failed": ${ops.failed}, """ +
      s""""metrics": $metrics, "problems": $problems}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), json)
  }
}

/** The engine counters every workload reports in a traced run. */
object SparkCounters {
  def values(c: Counters, wallS: Double, cores: Int): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", c.jobs.get.toDouble, "count"),
    ("spark.stages", c.stages.get.toDouble, "count"),
    ("spark.tasks", c.tasks.get.toDouble, "count"),
    ("spark.task_busy_frac", if (wallS > 0) c.runMs.get / 1000.0 / (wallS * cores) else 0.0,
      "ratio"),
    ("spark.task_wait_ms", c.waitMs.get.toDouble, "ms"),
    ("spark.shuffle_write_bytes", c.shuffleWrite.get.toDouble, "bytes"),
    ("spark.input_bytes", c.inputBytes.get.toDouble, "bytes"),
    ("spark.spill_bytes", c.spill.get.toDouble, "bytes"),
    ("spark.result_bytes", c.resultBytes.get.toDouble, "bytes"),
    ("spark.gc_ms", c.gcMs.get.toDouble, "ms"),
    ("spark.task_retries", c.retries.get.toDouble, "count"))

  val Names: Seq[(String, String)] = values(new Counters, 0, 1).map(v => v._1 -> v._3)

  def put(m: Metrics, c: Counters, wallS: Double, cores: Int): Unit =
    values(c, wallS, cores).foreach { case (k, v, u) => m.put(k, v, u) }
}
