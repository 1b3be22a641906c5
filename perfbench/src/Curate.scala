package perfbench

import scala.collection.mutable

import graft.llm.{Curation, CurationArtifacts}
import graft.streaming.CorpusStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress}

/** `curate_stream`: the seven-gate curation sink draining seeded id-range
  * drops of the documents, one file per trigger. Models come from
  * `CurationArtifacts.build` over the whole corpus, so the streamed
  * verdicts must equal batch `Curation.curateV3`'s, recorded once by
  * [[Record]] (each domain lives in one drop and drops arrive in id order,
  * the split conditions under which the two agree for any seed). */
object Curate extends Workload {
  final case class State(drops: String, n: Long, nb: DataFrame, priors: DataFrame,
      uni: DataFrame, bi: DataFrame, bench: DataFrame, artifactsS: Double,
      expected: Map[Long, String])

  val Accept = Set("en", "de", "fr")
  val PerDomain = 10
  val Buckets = 8

  /** Persists a model table and returns it read back, as a production
    * pipeline stores its trained artifacts. */
  private def persisted(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  private def gate(docs: DataFrame, s: State, dir: String): DataStreamWriter[Row] =
    CorpusStream.curateV3GateSink(docs, "url", s"$dir/kept", s"$dir/rej", s"$dir/digest",
      s"$dir/domain", s"$dir/postings", s"$dir/sigs", s"$dir/checkpoint",
      s.nb, s.priors, s.uni, s.bi, s.bench, Accept, perDomain = PerDomain,
      digestBuckets = Buckets, domainBuckets = Buckets, postingsBuckets = Buckets,
      sigBuckets = Buckets)

  /** The fixed benchmark set of the contamination gate. */
  def benchmark(corpus: DataFrame): DataFrame =
    corpus.filter(pmod(col("doc_id"), lit(97L)) === 0L).select("text")

  /** Batch curateV3's verdict per document. */
  def batchVerdicts(corpus: DataFrame, bench: DataFrame): Map[Long, String] =
    Curation.curateV3(corpus, "doc_id", "text", "lang", "url", bench, Accept,
      perDomain = PerDomain).select(col("doc_id"), col("reason"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  def readExpected(path: String): Map[Long, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(id, reason) = l.split("\t")
      id.toLong -> reason
    }.toMap
    finally src.close()
  }

  def setup(spark: SparkSession, a: Args): State = {
    val drops = s"${a.inputs}/drops"
    val corpus = spark.read.parquet(drops)
    val t0 = System.nanoTime()
    val art = CurationArtifacts.build(corpus, "doc_id", "text", "lang")
    val models = s"${a.work}/models"
    State(drops, corpus.count(),
      persisted(art.nbTokenModel, s"$models/nb_tokens"),
      persisted(art.nbPriors, s"$models/nb_priors"),
      persisted(art.lmUnigrams, s"$models/lm_unigrams"),
      persisted(art.lmBigrams, s"$models/lm_bigrams"),
      persisted(benchmark(corpus), s"$models/benchmark"),
      (System.nanoTime() - t0) / 1e9,
      readExpected(s"${a.inputs}/expected.tsv"))
  }

  private def verdicts(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/kept").select("doc_id", "reason")
      .unionByName(spark.read.parquet(s"$dir/rej").select("doc_id", "reason"))

  def measure(spark: SparkSession, a: Args, s: State, tracer: Tracer, ops: Ops,
      m: Metrics): Unit = {
    val schema = spark.read.parquet(s.drops).schema
    val drains = mutable.ArrayBuffer.empty[Double]
    val triggers = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val dirs = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val dir = s"${a.work}/pass$pass${if (tracer.enabled) "t" else ""}"
      val done = tracer.span("streaming.drain", pass) {
        ops.timed(s"drain $pass") {
          val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1L)
            .parquet(s.drops)
          val q = gate(docs, s, dir).start()
          q.awaitTermination()
          q.exception.foreach(e => throw e)
          q.recentProgress.filter(_.numInputRows > 0)
        }
      }
      done.foreach { progress =>
        drains += ops.latenciesMs.last / 1000
        triggers ++= progress
        dirs += dir
      }
      pass += 1
    }
    m.put("pass_s", Stats.median(drains.toSeq), "s")
    val batchMs = triggers.map(_.batchDuration.toDouble).toSeq
    m.put("op_p50_ms", Stats.quantile(batchMs, 0.5), "ms")
    m.put("op_p75_ms", Stats.quantile(batchMs, 0.75), "ms")
    m.put("__measured_s", (System.nanoTime() - t0) / 1e9, "s")

    // untimed: every document gets exactly one verdict, equal to batch curateV3's
    val expected = s.expected
    m.check(expected.size == s.n, s"${expected.size} recorded verdicts for ${s.n} documents")
    dirs.foreach { dir =>
      val got = verdicts(spark, dir).collect().map(r => r.getLong(0) -> r.getString(1))
      m.check(got.length == s.n && got.map(_._1).distinct.length == s.n,
        s"$dir: ${got.length} verdicts for ${got.map(_._1).distinct.length} of ${s.n} documents")
      val diff = got.filter { case (id, reason) => !expected.get(id).contains(reason) }
      m.check(diff.isEmpty, s"$dir: ${diff.length} verdicts differ from batch curateV3, " +
        s"e.g. ${diff.take(3).map { case (id, r) => s"$id: $r vs ${expected.get(id)}" }.mkString("; ")}")
    }

    if (tracer.enabled) {
      tracer.drain()
      def p50(key: String): Double =
        Stats.median(triggers.map(_.durationMs.getOrDefault(key, 0L).toDouble).toSeq)
      val kept = dirs.map(d => spark.read.parquet(s"$d/kept").count()).sum.toDouble
      val batchIds = triggers.map(_.batchId)
      def inputBytes(b: Long): Double =
        Option(tracer.perBatch.get(b)).map(_.inputBytes.get.toDouble).getOrElse(0.0) / dirs.size
      def bytesUnder(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      val last = dirs.last
      val stores = Seq("digest", "domain", "postings", "sigs")
        .map(st => bytesUnder(new java.io.File(s"$last/$st"))).sum
      m.put("llm.artifacts_build_s", s.artifactsS, "s")
      m.put("llm.kept_frac", kept / (s.n * dirs.size), "ratio")
      m.put("llm.jobs_per_trigger",
        tracer.perBatch.values().toArray(Array.empty[Counters]).map(_.jobs.get).sum.toDouble /
          math.max(1, triggers.size), "count")
      m.put("streaming.add_batch_ms", p50("addBatch"), "ms")
      m.put("streaming.query_planning_ms", p50("queryPlanning"), "ms")
      m.put("streaming.wal_commit_ms", p50("walCommit"), "ms")
      m.put("streaming.latest_offset_ms", p50("latestOffset"), "ms")
      m.put("streaming.input_bytes_first", inputBytes(batchIds.min), "bytes")
      m.put("streaming.input_bytes_last", inputBytes(batchIds.max), "bytes")
      m.put("streaming.store_bytes_per_doc", stores.toDouble / s.n, "bytes")
      m.put("__stage_sum_s", batchMs.sum / 1000 / dirs.size, "s")
      Probes.functions(spark, s"${a.inputs}/documents.parquet", s"${a.inputs}/embeddings.parquet", m)
    }
  }
}
