package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `registry_sf0.01`: one pass of a fixed set of 23 of the 161
  * `SparkEntry.queries` over the generated sf0.01 tables, in name order. A
  * full pass of all 161 takes about 90 s on 4 cores, too long for a run.
  * The set was every seventh name of the sorted registry (from the fourth)
  * when the benchmark was defined; of the sevenths, it has no wide gap
  * between query walls near the median and the 75th percentile. It is
  * pinned by name so that adding or renaming a query elsewhere in the
  * registry leaves the timed set unchanged, and a pinned name that is gone
  * fails the run. The order is fixed because a query's wall depends on how
  * warm the JVM is when it runs: in an order permuted by the seed, single
  * queries took 2-3x longer in one run than in another. Each result is
  * materialised into an order-insensitive digest and checked against the
  * recorded expected row count and digest. */
object Registry extends Workload {
  final case class State(dir: String, expected: Map[String, (Long, String)])

  /** The timed queries, in the order they run. */
  val Pass = Seq("q_ann_ivf_trained", "q_asof_join", "q_ccnet_buckets", "q_corpus_report",
    "q_decontam_semantic", "q_dedup_ngram", "q_dup_remove", "q_geometry_wkt", "q_grib_member",
    "q_json_extract", "q_lm_score", "q_media_resize", "q_multimodal_frames",
    "q_netcdf4_extarray", "q_netcdf_record", "q_pca_incr", "q_pii", "q_profile_incr",
    "q_retention", "q_sessionize", "q_tendency", "q_upstream_mask", "q_wds_media")

  /** The queries of the ROADMAP's watch list that the pass runs. */
  val Watch = Seq("q_ann_ivf_trained", "q_dup_remove", "q_lm_score")
  require(Watch.forall(Pass.contains), "every watch query must be in the pass")

  val Families = Seq("flood", "decode", "curate", "dedup", "ann", "models", "other")

  /** A query's family, for the per-family time sums. */
  def family(q: String): String = {
    val n = q.stripPrefix("q_")
    val decode = Seq("grib_", "netcdf", "warc_", "multimodal_", "media_", "wds_", "grid_source")
    if (decode.exists(n.startsWith)) "decode"
    else if (graft.queries.FloodQueries.queries.contains(q)) "flood"
    else if (Seq("curate", "decontam", "quality_score", "domain_cap").exists(n.contains)) "curate"
    else if (Seq("dedup", "dup_", "minhash", "simhash", "cluster_rep", "winnow",
        "text_fingerprint").exists(n.contains)) "dedup"
    else if (Seq("ann_", "pq_", "embed_quantize").exists(n.startsWith)) "ann"
    else if (Seq("lm_", "nb_", "kmeans", "pca_", "bpe_").exists(n.startsWith)) "models"
    else "other"
  }

  val ShortMs = 300.0

  /** Map columns have no hash; their sorted entry arrays do. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** (rows, order-insensitive digest): the sum over rows of the 64-bit hash
    * of every column. Computing it reads every column of every row. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def readExpected(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(q, rows, d) = l.split("\t")
      q -> (rows.toLong, d)
    }.toMap
    finally src.close()
  }

  def setup(spark: SparkSession, a: Args): State =
    State(a.inputs, readExpected(s"${a.inputs}/expected.tsv"))

  override def warmUp(spark: SparkSession, a: Args, s: State): State = {
    digest(spark.read.parquet(s"${a.inputs}/lineitem.parquet")
      .groupBy("l_returnflag").agg(sum("l_quantity")))
    s
  }

  def measure(spark: SparkSession, a: Args, s: State, tracer: Tracer, ops: Ops,
      m: Metrics): Unit = {
    val queries = graft.SparkEntry.queries
    val missing = Pass.filterNot(queries.contains)
    m.check(missing.isEmpty, s"pinned queries missing from the registry: ${missing.mkString(", ")}")
    val names = Pass.filter(queries.contains)
    m.check(queries.keySet == s.expected.keySet,
      s"registry names differ from the recorded ones: " +
        s"${(queries.keySet -- s.expected.keySet) ++ (s.expected.keySet -- queries.keySet)}")
    val walls = mutable.ArrayBuffer.empty[(String, Double)] // successful queries only
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val before = walls.size
      names.foreach { q =>
        val fn = queries(q)
        val got = tracer.span(s"queries.$q", pass) {
          ops.timed(q)(digest(fn(spark, s.dir)))
        }
        got.foreach { r =>
          walls += q -> ops.latenciesMs.last
          val want = s.expected.get(q)
          m.check(want.contains(r), s"$q: got rows/digest $r, expected ${want.orNull}")
        }
      }
      passes += walls.drop(before).map(_._2).sum / 1000
      pass += 1
    }
    m.put("pass_s", Stats.median(passes.toSeq), "s")
    m.put("op_p50_ms", Stats.quantile(walls.map(_._2).toSeq, 0.5), "ms")
    m.put("op_p75_ms", Stats.quantile(walls.map(_._2).toSeq, 0.75), "ms")
    m.put("__measured_s", (System.nanoTime() - t0) / 1e9, "s")
    if (tracer.enabled) {
      tracer.drain()
      val jobs = tracer.allSpans.filter(_.name.startsWith("queries.")).map { sp =>
        sp.name.stripPrefix("queries.") -> Option(tracer.perSpan.get(sp.id)).map(_.jobs.get).getOrElse(0L)
      }
      val byQuery = walls.groupBy(_._1).map { case (q, ws) => q -> Stats.median(ws.map(_._2).toSeq) }
      val jobsByQuery = jobs.groupBy(_._1).map { case (q, js) => q -> Stats.median(js.map(_._2.toDouble)) }
      Families.foreach { f =>
        m.put(s"queries.${f}_s", byQuery.filter(kv => family(kv._1) == f).values.sum / 1000, "s")
      }
      m.put("__stage_sum_s", tracer.allSpans.filter(_.name.startsWith("queries.")).map(_.seconds).sum /
        passes.size, "s")
      val short = byQuery.values.filter(_ < ShortMs)
      m.put("queries.short_n", short.size.toDouble, "count")
      m.put("queries.short_s", short.sum / 1000, "s")
      m.put("queries.ms_per_job", walls.map(_._2).sum / math.max(1L, jobs.map(_._2).sum), "ms")
      m.put("queries.jobs_per_query_p50", Stats.median(jobsByQuery.values.toSeq), "count")
      Watch.foreach { q =>
        val n = q.stripPrefix("q_")
        m.check(byQuery.contains(q) && jobsByQuery.contains(q), s"watch query $q has no timing")
        m.put(s"queries.${n}_ms", byQuery.getOrElse(q, 0.0), "ms")
        m.put(s"queries.${n}_jobs", jobsByQuery.getOrElse(q, 0.0), "count")
      }
      Probes.functions(spark, s"${s.dir}/documents.parquet", s"${s.dir}/embeddings.parquet", m)
    }
  }
}
