package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kernel probes for the `functions` layer: each `graft_*` SQL function is
  * timed over a cached input, minus an identity projection of the same
  * input, in ns per row. */
object Probes {
  private val Reps = 3
  val Kernels = Seq("shingle_hashes", "minhash", "simhash", "token_hashes", "html_text", "dot")
  // copies of the input rows, so that each kernel's cost stands well above
  // a job's fixed cost (a 64-wide dot product takes well under 1 µs)
  private val DocRows = 40000L
  private val EmbRows = 500000L

  private def forcedNs(df: DataFrame, forced: Column): Double = (1 to Reps).map { _ =>
    val t0 = System.nanoTime()
    df.select(forced.as("x")).agg(sum(col("x"))).collect()
    (System.nanoTime() - t0).toDouble
  }.sorted.apply(Reps / 2)

  def functions(spark: SparkSession, docsPath: String, embPath: String, m: Metrics): Unit = {
    def copied(df: DataFrame, rows: Long): DataFrame =
      df.crossJoin(spark.range(math.max(1L, rows / df.count())).withColumnRenamed("id", "copy"))
    val docs = copied(spark.read.parquet(docsPath), DocRows)
      .select(concat(col("text"), lit(" "), col("copy").cast("string")).as("text"))
      .withColumn("hashes", expr("graft_shingle_hashes(text, 5)"))
      .cache()
    val emb = copied(spark.read.parquet(embPath), EmbRows)
      .select(col("embedding").cast("array<double>").as("v")).cache()
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    val docBase = forcedNs(docs, length(col("text")))
    val embBase = forcedNs(emb, size(col("v")))
    def perRow(df: DataFrame, base: Double, n: Double, c: Column): Double =
      (forcedNs(df, c) - base) / n
    m.put("functions.shingle_hashes_ns_per_row",
      perRow(docs, docBase, nDocs, size(expr("graft_shingle_hashes(text, 5)"))), "ns")
    m.put("functions.minhash_ns_per_row",
      perRow(docs, docBase, nDocs, size(expr("graft_minhash(hashes, 64)"))), "ns")
    m.put("functions.simhash_ns_per_row",
      perRow(docs, docBase, nDocs, expr("graft_simhash(text, 64)")), "ns")
    m.put("functions.token_hashes_ns_per_row",
      perRow(docs, docBase, nDocs, size(expr("graft_token_hashes(text)"))), "ns")
    m.put("functions.html_text_ns_per_row",
      perRow(docs, docBase, nDocs, length(expr("graft_html_text(text)"))), "ns")
    m.put("functions.dot_ns_per_row",
      perRow(emb, embBase, nEmb, expr("graft_dot(v, v)")), "ns")
    docs.unpersist()
    emb.unpersist()
  }
}
